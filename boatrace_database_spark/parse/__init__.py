"""Fixed-layout CP932 parse layer (raw files -> tagged parsed rows)."""
