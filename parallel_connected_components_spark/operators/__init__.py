from .graph import (  # noqa: F401
    audit_id_collisions,
    canonicalize,
    degree_stats,
    degrees,
    edges_from_pages,
    symmetrize,
    vertices_from_pages,
    vertices_of,
)
from .cc import (  # noqa: F401
    cc_afforest,
    cc_alternating_stars,
    cc_auto,
    cc_label_propagation,
    cc_two_phase,
    count_components,
    normalize_labels,
    union_find_oracle,
)
from .pagerank import (  # noqa: F401
    pagerank,
    pagerank_fixed,
    pagerank_numpy_oracle,
    personalized_pagerank_fixed,
)
from .hits import hits_fixed, hits_numpy_oracle  # noqa: F401
from .scc import scc, scc_python_oracle  # noqa: F401
from .kcore import coreness, coreness_python_oracle  # noqa: F401
from .bfs import bfs_hops, bfs_python_oracle  # noqa: F401
from .anf import (  # noqa: F401
    anf,
    anf_python_oracle,
    effective_diameter,
    harmonic_centrality,
    harmonic_python_oracle,
    neighborhood_estimate,
)
from .lpa import label_propagation_communities  # noqa: F401
from .walks import random_walks, walk_cooccurrence, walks_python_oracle  # noqa: F401
from .structure import (  # noqa: F401
    clustering_coefficients,
    degree_assortativity,
    edge_support,
    ktruss,
    reciprocity,
    support_python_oracle,
    transitivity,
    truss_decomposition,
    truss_python_oracle,
)
from .linkpred import link_prediction_topk  # noqa: F401
from .triangles import triangle_count, triangles_per_vertex  # noqa: F401
from .stats import (  # noqa: F401
    component_sizes,
    component_stats,
    count_components_approx,
    giant_component_sample,
    top_components,
)
from .skew import packed_adjacency, salted_topk_per_key  # noqa: F401
from .similarity import (  # noqa: F401
    ivf_assign,
    kmeans_fit,
    knn_bruteforce,
    knn_ivf,
    knn_lsh,
)
from .dedup import (  # noqa: F401
    dedup_clusters,
    exact_dedup,
    exact_duplicates,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_signatures,
)
