from pagerank_cuda_dynamic_spark.operators.graph import (  # noqa: F401
    add_self_loops,
    transpose,
    symmetrize,
    out_degrees,
    self_loop_count,
    tidy_batch,
    apply_batch,
    bfs_reachable,
)
from pagerank_cuda_dynamic_spark.operators.graph import (  # noqa: F401
    avg_neighbor_degree,
    degree_assortativity,
    harmonic_centrality,
    multi_source_distances,
    reciprocity,
)
from pagerank_cuda_dynamic_spark.operators.centrality import (  # noqa: F401
    hits,
    k_core,
    katz,
    personalized_pagerank,
)
from pagerank_cuda_dynamic_spark.operators.walks import (  # noqa: F401
    deterministic_walks,
    md5_walk_hash,
    negative_samples,
    sample_neighbors,
)
from pagerank_cuda_dynamic_spark.operators.features import (  # noqa: F401
    collect_features,
    explode_features,
    fastrp_embeddings,
    propagate_features,
)
from pagerank_cuda_dynamic_spark.operators.pagerank import (  # noqa: F401
    PagerankOptions,
    PagerankResult,
)
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (  # noqa: F401
    pagerank_static_bsp,
    pagerank_dynamic_traversal_bsp,
    pagerank_dynamic_frontier_bsp,
    pagerank_dynamic_frontier_prune_bsp,
    pagerank_weighted_bsp,
)
from pagerank_cuda_dynamic_spark.operators.graph import (  # noqa: F401
    maximal_matching,
    temporal_reachability,
    topological_levels,
)
from pagerank_cuda_dynamic_spark.operators.centrality import (  # noqa: F401
    absorption_probability,
    trustrank_spam_mass,
)
from pagerank_cuda_dynamic_spark.operators.webgraph import (  # noqa: F401
    butterfly_count,
    densest_subgraph,
)
from pagerank_cuda_dynamic_spark.operators.sampling import (  # noqa: F401
    interleave_sources,
    temperature_sample,
)
from pagerank_cuda_dynamic_spark.operators.similarity import (  # noqa: F401
    embedding_centroids,
    gram_covariance,
    pca_project,
    quantize_embeddings,
)
from pagerank_cuda_dynamic_spark.operators.dedup import (  # noqa: F401
    remove_duplicate_spans,
)
from pagerank_cuda_dynamic_spark.operators.temporal import (  # noqa: F401
    funnel_steps,
    retention_cohorts,
)
