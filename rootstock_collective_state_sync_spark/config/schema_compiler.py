"""Entity -> Spark ``StructType`` compiler.

Parity target: the reference's DDL compiler ``src/handlers/dbCreator.ts``
(type mapping ``src/handlers/types.ts:12-33``; FK columns typed by the
referenced entity's PK ``dbCreator.ts:89-127``, composite-FK name
mangling ``col_pk1, col_pk2`` at ``dbCreator.ts:109-126``).

Type policy (SURVEY.md §1.2/§7):

- ``BigInt`` is uint256 in the reference (``NUMERIC(78,0)``,
  ``types.ts:17-20``). Spark's max decimal precision is 38, so the
  canonical column is ``DecimalType(38,0)`` — exact for values up to
  10^38-1 (≈ 2^126), which covers every realistic token amount —
  and out-of-range values fail loudly at ingest (Spark raises
  ``NUMERIC_VALUE_OUT_OF_RANGE`` rather than silently truncating). For
  full-width arithmetic a query can derive a lossless ``<col>__hex``
  string column (:mod:`..functions.uint256`); no table carries one.
- ``Bytes`` -> ``BinaryType`` (hex-encoded ``0x…`` strings on the
  GraphQL wire; decoded at the connector edge).
- FK reference columns are flattened to plain key columns typed like
  the referenced entity's PK — nested ``{id: …}`` wire objects never
  reach the table schema.

Spark does not enforce nullability on write; the merge sink re-checks
NOT NULL columns (engine-side enforcement).
"""

from __future__ import annotations

from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.config.types import (
    Column,
    Entity,
    SchemaContext,
    SchemaError,
)

# BigInt = uint256; Decimal(38,0) is Spark's widest exact integer.
UINT256_DECIMAL = T.DecimalType(38, 0)

_PRIMITIVE_SPARK = {
    "Boolean": T.BooleanType(),
    "BigInt": UINT256_DECIMAL,
    "Bytes": T.BinaryType(),
    "String": T.StringType(),
    "Integer": T.IntegerType(),
}


def primitive_spark_type(name: str) -> T.DataType:
    try:
        return _PRIMITIVE_SPARK[name]
    except KeyError:
        raise SchemaError(f"unknown primitive type {name!r}") from None


def _fk_fields(ctx: SchemaContext, col: Column) -> list[T.StructField]:
    """Flatten an FK reference column into key column(s).

    Single-column referenced PK -> one column named like the FK column.
    Composite referenced PK -> one column per PK part, name-mangled
    ``{col}_{pk}`` (parity: ``dbCreator.ts:109-126``).
    """
    ref = ctx[col.type]
    fields = []
    for pk_name in ref.primary_key:
        pk_col = ref.column(pk_name)
        dtype = primitive_spark_type(pk_col.type)
        out_name = col.name if len(ref.primary_key) == 1 else f"{col.name}_{pk_name}"
        fields.append(T.StructField(out_name, dtype, col.nullable))
    return fields


def compile_entity(ctx: SchemaContext, entity: Entity) -> T.StructType:
    """Compile one entity to its table ``StructType``: FK columns
    flattened to the referenced key, arrays of nullable elements, and
    each column's declared nullability."""
    fields: list[T.StructField] = []
    for col in entity.columns:
        if ctx.is_reference(col):
            fields.extend(_fk_fields(ctx, col))
            continue
        dtype = primitive_spark_type(col.type)
        if col.is_array:
            # array elements follow the column's nullability; the
            # reference's Postgres arrays have no element constraint.
            dtype = T.ArrayType(dtype, containsNull=True)
        fields.append(T.StructField(col.name, dtype, col.nullable))
    return T.StructType(fields)


def compile_schema(ctx: SchemaContext) -> dict[str, T.StructType]:
    """Compile every declared entity. Registry -> {name: StructType}."""
    ctx.validate()
    return {name: compile_entity(ctx, e) for name, e in ctx.entities.items()}


def merge_key_columns(ctx: SchemaContext, entity: Entity) -> list[str]:
    """Physical merge-key column names for an entity (PK after FK
    flattening) — what the upsert sink matches ON.

    Parity: the reference's upsert conflict target is the declared PK
    (``dbUpsert.ts:78-79``).
    """
    keys: list[str] = []
    for pk in entity.primary_key:
        col = entity.column(pk)
        if ctx.is_reference(col):
            ref = ctx[col.type]
            if len(ref.primary_key) == 1:
                keys.append(col.name)
            else:
                keys.extend(f"{col.name}_{p}" for p in ref.primary_key)
        else:
            keys.append(pk)
    return keys
