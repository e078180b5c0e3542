"""Engine operators (SURVEY.md §2.B).

All operators are declarative pyspark.sql compositions (Catalyst
optimizes and AQE re-plans them) except where semantics genuinely need
Arrow-vectorized pandas (the cogrouped merge_asof path). No per-row
Python UDFs exist in this package — tests/test_no_slow_udfs.py lints
for it.

Import operators from their submodules
(``from fte.operators.asof import asof_join``); this package re-exports
nothing, so importing one operator loads only its own module.
"""
