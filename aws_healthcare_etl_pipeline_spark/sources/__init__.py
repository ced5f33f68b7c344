"""CSV ingest, partitioned sinks, catalog registration and table
loaders; import the submodules directly."""
