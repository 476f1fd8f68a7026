"""Repository benchmark (see PROTOCOL.md)."""
