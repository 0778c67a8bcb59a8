from qalsh_spark.operators.banding import explode_bands
from qalsh_spark.operators.pairs import candidate_pairs_from_buckets
from qalsh_spark.operators.verify import verify_pairs
from qalsh_spark.operators.components import connected_components
from qalsh_spark.operators.drusilla import drusilla_representatives, qalsh_plus_topk

__all__ = [
    "drusilla_representatives",
    "qalsh_plus_topk",
    "explode_bands",
    "candidate_pairs_from_buckets",
    "verify_pairs",
    "connected_components",
]
