"""Sources & sinks: synthetic raw generation, schema-reconciling readers,
partitioned / z-ordered writers, versioned (transactional) tables."""
