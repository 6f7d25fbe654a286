"""State-sync benchmark (see README.md)."""
