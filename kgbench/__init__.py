"""kgbench: the repository's benchmark of the KG pipeline (see DESIGN.md)."""
