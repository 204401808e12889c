"""PySpark-native analytics engine with the data-processing capabilities of
verma7/GeneticAlgorithmsUsingMapReduce (reference surveyed in SURVEY.md).

Architecture (SURVEY.md §7): everything is DataFrame + built-in column
expressions so Catalyst/AQE/whole-stage-codegen optimize the plan; Pandas
UDFs only where built-ins genuinely can't express the semantics
(multimodal decode stubs). Stochastic operators take an explicit seed and
derive randomness from pure int64 arithmetic on row ids (functions.prng),
so every operator has a DuckDB-verifiable oracle.
"""

from ._worker_imports import freeze_zip_finders as _freeze_zip_finders

__version__ = "0.1.0"

_freeze_zip_finders()
