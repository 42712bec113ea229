from kgraph_framework_spark.plans.pagerank import pagerank
from kgraph_framework_spark.plans.components import (
    connected_components,
    connected_components_star,
)
from kgraph_framework_spark.plans.labelprop import label_propagation
from kgraph_framework_spark.plans.triangles import count_triangles, triangles_per_vertex

__all__ = [
    "pagerank",
    "connected_components",
    "connected_components_star",
    "label_propagation",
    "count_triangles",
    "triangles_per_vertex",
]
