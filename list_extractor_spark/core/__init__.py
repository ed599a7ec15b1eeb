"""Pure-Python reference-semantics core (no Spark imports).

This package is the single source of truth for WHAT the engine computes: the
scalar extractor primitives, the per-document section/list parser fold, and the
per-domain mapper semantics, all re-derived from the observable behavior of the
reference (dbpedia/list-extractor).  The Spark layer calls these functions from
one Arrow-batched mapInArrow kernel (engine/extract.py); the test oracle calls
them directly.  Keeping them
Spark-free isolates "semantics right" from "Spark right" (SURVEY.md §7.1).
"""
