"""Per-family query modules (split from the single-file registry).

Import order matters: modules register into the shared QUERIES/ORACLES
dicts in core and may reference helpers from earlier families.
Import through ``etl_pyspark_spark.registry`` (the facade), which loads
every family in the original definition order; import an underscore
helper from the module that defines it."""
