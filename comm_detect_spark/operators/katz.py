"""Katz centrality lives in the power-iteration core (pagerank.py); this
module keeps its import path."""

from comm_detect_spark.operators.pagerank import katz  # noqa: F401
