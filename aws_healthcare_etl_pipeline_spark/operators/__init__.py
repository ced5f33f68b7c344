"""Composed relational and LLM-data-pipeline operators; import the
submodules directly."""
