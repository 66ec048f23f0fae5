from informers_spark.operators.extract import extract_structural_triples  # noqa: F401
from informers_spark.operators.link import link_entities  # noqa: F401
from informers_spark.operators.canon import connected_components  # noqa: F401
from informers_spark.operators.graph import (  # noqa: F401
    degrees,
    k_hop,
    kg_graph_summary,
    label_propagation,
    materialize_graph_stats,
    pagerank,
    personalized_pagerank,
    shortest_paths,
    triangle_count,
)
