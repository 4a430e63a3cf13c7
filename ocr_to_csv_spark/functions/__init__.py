"""Query library: SURVEY.md §2 relational operators plus the training-data
pipeline operators (dedup / similarity / text analysis) over the driver's
TPC-H-ish testdata.

A module in this package is in the library if and only if it defines
``QUERIES`` (name -> ``fn(spark, sf_dir) -> DataFrame``) and an
``ORACLES`` dict with the same keys (name -> DuckDB oracle SQL: same
aliases, same arithmetic). ``__spark_entry__.py`` discovers such modules
with ``pkgutil``, so adding one needs no edit to any other file. Shared
helpers live in ``util``, which defines neither.
"""
