"""Column-level helpers (vector math, text normalization); import the
submodules directly."""
