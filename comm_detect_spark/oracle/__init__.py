"""Pure-NumPy executable spec of the reference semantics.

Everything the Spark engine computes is diffed against this module. The
sweep kernels (``lpa_async_sweep``, ``local_move_sweep``) are *shared* with
the Spark engine's Arrow/applyInPandas fast paths: a Spark partition block
runs the identical kernel over its CSR slice, so a single-partition Spark run
is bit-identical to the oracle by construction.
"""

from comm_detect_spark.oracle.algorithms import (  # noqa: F401
    Adjacency,
    canonical_labels,
    connected_components,
    hits,
    k_core,
    local_move_sweep,
    louvain,
    lpa_async,
    lpa_async_sweep,
    lpa_sync,
    modularity,
    modularity_difference,
    pagerank,
    personalized_pagerank,
    strongly_connected_components,
    triangle_counts,
    volumes,
)
from comm_detect_spark.oracle.graphs import (  # noqa: F401
    hub_star,
    jazz_edges,
    karate_edges,
    ring_of_cliques,
    rmat_edges,
    two_components,
    weighted_triangle,
)
