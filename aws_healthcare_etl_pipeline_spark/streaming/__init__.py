"""Structured Streaming ingest, stateful and windowed operators;
import the submodules directly."""
