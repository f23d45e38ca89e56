"""Sources: storage layouts of the batch tables (bucketed, hive-partitioned,
z-ordered, schema-evolving)."""
