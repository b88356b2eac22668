from codebased_spark.graph.pipeline import extract_triples  # noqa: F401
from codebased_spark.graph.pagerank import pagerank  # noqa: F401
from codebased_spark.graph.views import register_views, sql  # noqa: F401
from codebased_spark.graph.triangles import triangles, triangle_counts  # noqa: F401
from codebased_spark.graph.hits import hits  # noqa: F401
from codebased_spark.graph.temporal import fact_lifespans  # noqa: F401
from codebased_spark.graph.negatives import corrupt_tails  # noqa: F401
from codebased_spark.graph.triangles import clustering_coefficient  # noqa: F401
