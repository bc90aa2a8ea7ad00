"""chi_frbcs_bigdatacs_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of saradelrio/Chi-FRBCS-BigDataCS.

The reference is a cost-sensitive linguistic Fuzzy Rule-Based
Classification System for imbalanced big data (Java / Hadoop
MapReduce). This package re-expresses its entire computation —
fuzzification, Chi rule generation, PCF-CS rule weighting, rule-base
fusion, fuzzy-reasoning-method scoring, imbalance metrics — as lazy
DataFrame algebra (Catalyst-optimized, whole-stage-codegen'd), with
numpy mapInPandas passes where a per-row loop beats row expansion:
the estimator's rule-statistics build and its WR/AC scorers share one
numpy membership core. Plus the relational / text / dedup /
similarity / streaming operator substrate a 100 TB training-data
pipeline needs.

Provenance: the local reference snapshot at /root/reference was empty
at survey time (SURVEY.md §0); semantics are pinned by the published
papers, primarily [FSS258] Lopez, del Rio, Benitez, Herrera,
"Cost-sensitive linguistic fuzzy rule based classification systems
under the MapReduce framework for imbalanced big data", Fuzzy Sets
and Systems 258 (2015) 5-38.
"""

__version__ = "0.1.0"
