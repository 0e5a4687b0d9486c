"""Driver-contract queries and their DuckDB oracle SQL.

Every operator family from SURVEY.md §2 (plus the training-data ops) gets
a ``queries()`` entry over the driver testdata tables and, where
ANSI-SQL-expressible, a matching ``oracle_sql()`` string. The link graph
is *derived from the documents table by pure integer arithmetic* (no
hashing) so Spark and DuckDB construct bit-identical edge tables:

    star:   (i, i - (i % 8))          — block star
    chain:  (i, i - 1)   where i % 8 <> 0
    self:   (i, i)       where i % 17 = 0   (exercises self-loop drop)

giving components = blocks of 8 consecutive doc_ids (known by
construction, like the reference generator /root/reference/tools/
generate_graph.c:43-66). Component structure is small, so the recursive
min-reachable CTE oracle stays cheap.

Three CC queries (two-phase, alternating stars, frontier label-prop)
share ONE oracle — the driver thereby reruns the reference's
cross-algorithm differential test (/root/reference/benchmarks/
benchmark_sequential.c:81-98) on every round.

Column names/types are aligned pairwise (driver hashes values after
sorting columns by name). Floating-point rules: doubles only where the
computation is order-independent (integer-sum ratios, constant sums);
money-ish sums go through DECIMAL so both engines sum exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.hashing import MERSENNE_31, minhash_params
from .functions.textstats import (
    LANG_STOPWORDS,
    bpe_token_estimate_col,
    fingerprint_col,
    lang_id_col,
    quality_score_col,
    token_count_col,
)
from .operators.cc import (
    cc_afforest,
    cc_alternating_stars,
    cc_auto,
    cc_label_propagation,
    cc_two_phase,
)
from .operators.dedup import exact_duplicates, minhash_signatures, simhash_signatures
from .operators.anf import anf, harmonic_centrality
from .operators.bfs import bfs_hops
from .operators.graph import canonicalize, degree_stats, degrees, symmetrize
from .operators.hits import hits_fixed
from .operators.kcore import coreness
from .operators.lpa import label_propagation_communities
from .operators.pagerank import pagerank_fixed, personalized_pagerank_fixed
from .operators.scc import scc
from .operators.similarity import knn_bruteforce
from .operators.stats import component_sizes, component_stats, top_components
from .operators.triangles import triangle_count, triangles_per_vertex
from .operators.linkpred import link_prediction_topk
from .operators.structure import (
    clustering_coefficients,
    degree_assortativity,
    edge_support,
    reciprocity,
    transitivity,
    truss_decomposition,
)
from .operators.walks import random_walks, walk_cooccurrence
from .streaming.events import batch_event_counts

BLOCK = 8
SELF_MOD = 17
MINHASH_PERMS = 8
SIMHASH_BITS = 60
KNN_QUERY_IDS = list(range(10))

# media_decode oracle table: FIXED size/seed/path (oracle_sql() strings
# carry no sf parameter, so the table cannot scale with sf — decode
# correctness doesn't need it to)
MEDIA_ORACLE_N = 300
MEDIA_ORACLE_SEED = 7


def _media_oracle_path() -> str:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # v5: gen_media rotates image containers PNG/JPEG/PPM with both
    # sequential (SOF0) and progressive (SOF2) JPEG rows, each at 4:4:4
    # and 4:2:0 (decoded by the from-scratch codec in operators/jpeg.py)
    return os.path.join(
        repo, ".data", f"media_oracle_v5_n{MEDIA_ORACLE_N}_s{MEDIA_ORACLE_SEED}"
    )


def _media_av_path() -> str:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # v1: MP3/MP4 container-metadata table (operators/mediameta.py)
    return os.path.join(
        repo, ".data", f"media_av_v1_n{MEDIA_ORACLE_N}_s{MEDIA_ORACLE_SEED}"
    )


# ===========================================================================
# Shared builders — Spark side
# ===========================================================================

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def raw_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = _docs(spark, sf_dir).select("doc_id")
    i = F.col("doc_id")
    star = ids.select(i.alias("src"), (i - i % BLOCK).alias("dst"))
    chain = ids.filter(i % BLOCK != 0).select(i.alias("src"), (i - 1).alias("dst"))
    selfl = ids.filter(i % SELF_MOD == 0).select(i.alias("src"), i.alias("dst"))
    return star.unionAll(chain).unionAll(selfl)


def doc_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(F.col("doc_id").alias("id"))


def raw_directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED derived graph with cycles by construction — the SCC/HITS
    input. On top of the star/chain edges (all pointing to smaller ids —
    a DAG on its own), two extra families:

      back:  i → i+BLOCK-1  for block heads whose block is complete —
             closes each full block into ONE directed cycle through the
             chain edges (SCC = the block);
      head:  i → i-BLOCK    for block heads — a descending chain between
             blocks, so the condensation is a path of block-SCCs (plus
             trailing-partial-block singletons).

    Existence of the target is enforced by a semi-join against the doc
    ids (NOT driver-side max arithmetic), mirrored in DIR_SQL."""
    docs = _docs(spark, sf_dir).select("doc_id")
    i = F.col("doc_id")
    tgt = docs.select(F.col("doc_id").alias("dst"))
    star = docs.select(i.alias("src"), (i - i % BLOCK).alias("dst"))
    chain = docs.filter(i % BLOCK != 0).select(i.alias("src"), (i - 1).alias("dst"))
    back = (
        docs.filter(i % BLOCK == 0)
        .select(i.alias("src"), (i + BLOCK - 1).alias("dst"))
        .join(tgt, "dst", "leftsemi")
        .select("src", "dst")
    )
    head = (
        docs.filter(i % BLOCK == 0)
        .select(i.alias("src"), (i - BLOCK).alias("dst"))
        .join(tgt, "dst", "leftsemi")
        .select("src", "dst")
    )
    return star.unionAll(chain).unionAll(back).unionAll(head)


def raw_tri_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denser derived graph for the triangle-support family (edge
    support / k-truss): the base star+chain graph plus skip edges
    i → i−2 for every third in-block vertex. The skips close extra
    chain triangles NON-uniformly, so the truss decomposition has mixed
    truss numbers (3 and 4 at 500 docs) and the k=4 peel genuinely
    cascades (3 rounds) instead of fixpointing immediately — mirrored in
    TRICANON_SQL."""
    docs = _docs(spark, sf_dir).select("doc_id")
    i = F.col("doc_id")
    skip = docs.filter((i % BLOCK >= 2) & (i % 3 == 0)).select(
        i.alias("src"), (i - 2).alias("dst")
    )
    return raw_edges(spark, sf_dir).unionAll(skip)


# ===========================================================================
# Shared builders — oracle SQL fragments (DuckDB dialect)
# ===========================================================================

RAW_EDGES_SQL = f"""
  raw AS (
    SELECT doc_id AS src, doc_id - (doc_id % {BLOCK}) AS dst FROM documents
    UNION ALL
    SELECT doc_id, doc_id - 1 FROM documents WHERE doc_id % {BLOCK} <> 0
    UNION ALL
    SELECT doc_id, doc_id FROM documents WHERE doc_id % {SELF_MOD} = 0
  )"""

CANON_SQL = (
    RAW_EDGES_SQL
    + """,
  canon AS (
    SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
    FROM raw WHERE src <> dst
  )"""
)

SYM_SQL = (
    CANON_SQL
    + """,
  sym AS (
    SELECT src, dst FROM canon UNION SELECT dst, src FROM canon
  )"""
)

TRICANON_SQL = (
    RAW_EDGES_SQL
    + f""",
  trisrc AS (
    SELECT src, dst FROM raw
    UNION ALL
    SELECT doc_id, doc_id - 2 FROM documents
    WHERE doc_id % {BLOCK} >= 2 AND doc_id % 3 = 0
  ),
  tcanon AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
    FROM trisrc WHERE src <> dst
  )"""
)

DIR_SQL = f"""
  dirraw AS (
    SELECT doc_id AS src, doc_id - (doc_id % {BLOCK}) AS dst FROM documents
    UNION ALL
    SELECT doc_id, doc_id - 1 FROM documents WHERE doc_id % {BLOCK} <> 0
    UNION ALL
    SELECT d.doc_id, d.doc_id + {BLOCK - 1} FROM documents d
      JOIN documents t ON t.doc_id = d.doc_id + {BLOCK - 1}
      WHERE d.doc_id % {BLOCK} = 0
    UNION ALL
    SELECT d.doc_id, d.doc_id - {BLOCK} FROM documents d
      JOIN documents t ON t.doc_id = d.doc_id - {BLOCK}
      WHERE d.doc_id % {BLOCK} = 0
  ),
  dir AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM dirraw WHERE src <> dst
  )"""

CC_SQL = (
    SYM_SQL
    + """,
  verts AS (
    SELECT doc_id AS v FROM documents
    UNION SELECT src FROM sym UNION SELECT dst FROM sym
  ),
  reach(v, l) AS (
    SELECT v, v FROM verts
    UNION
    SELECT s.dst, r.l FROM reach r JOIN sym s ON s.src = r.v
  ),
  cc AS (
    SELECT v AS vertex, min(l) AS label FROM reach GROUP BY v
  )"""
)


def _words_sql(col: str = "text") -> str:
    trimmed = f"regexp_replace({col}, '^\\s+|\\s+$', '', 'g')"
    return (
        f"CASE WHEN {trimmed} = '' OR {col} IS NULL THEN []::VARCHAR[] "
        f"ELSE regexp_split_to_array({trimmed}, '\\s+') END"
    )


def _norm_sql(col: str = "text") -> str:
    return (
        f"regexp_replace(regexp_replace(lower({col}), '\\s+', ' ', 'g'),"
        f" '^ +| +$', '', 'g')"
    )


def _stop_hits_sql(lang: str, col: str = "text") -> str:
    words = ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter({_words_sql(col)}, x -> lower(x) IN ({words})))"


def _hash31_sql(expr: str) -> str:
    return f"((('0x' || substr(md5({expr}), 1, 15))::BIGINT) % {MERSENNE_31})"


def _ordered_sum_sql(lst: str) -> str:
    """DuckDB side of plans/runner.py:ordered_sum: a left fold from 0.0
    over ``lst``, a ``list(w ORDER BY k)``, so both engines add identical
    operands in identical order."""
    return f"list_reduce(list_prepend(0.0::DOUBLE, {lst}), (a, b) -> a + b)"


def _power_iteration_fixed_sql(
    graph_sql: str, setup: list[str], n_iterations: int, damping: float, top: int,
    carried: str, teleport: str, dangling_share: str, consts: str = "",
) -> str:
    """Unrolled fixed-iteration power iteration (DuckDB), the bit-exact
    twin of operators.pagerank._power_iteration_fixed. ``setup`` defines
    ``e2`` (the edges) and ``pr0`` (vertex, outdeg, *carried, rank); step
    t computes ``teleport + d·(coalesce(contrib, 0) + dangling_share)``
    per vertex ``s``, with the dangling fold as ``dd.dm`` and ``consts``
    cross-joined in. Every float literal is ::DOUBLE (bare decimals parse
    as DECIMAL in DuckDB — exact 0.15 converts to a DIFFERENT double than
    IEEE 1.0-0.85); contribution and dangling sums are
    :func:`_ordered_sum_sql` folds."""
    d = f"{damping!r}::DOUBLE"
    # MATERIALIZED everywhere a CTE is referenced more than once: DuckDB
    # otherwise inlines, and the iteration chain (pr{t} referenced 3x per
    # round) would expand exponentially
    ctes = list(setup)
    for t in range(n_iterations):
        dang = _ordered_sum_sql("coalesce(list(rank ORDER BY vertex), [])")
        contrib = _ordered_sum_sql("list(p.rank / p.outdeg ORDER BY p.vertex)")
        ctes += [
            f"d{t} AS (SELECT {dang} AS dm FROM pr{t} WHERE outdeg = 0)",
            f"""c{t} AS (SELECT e.dst AS vertex, {contrib} AS contrib
              FROM e2 e JOIN pr{t} p ON p.vertex = e.src AND p.outdeg > 0
              GROUP BY e.dst)""",
            f"""pr{t + 1} AS MATERIALIZED (SELECT s.vertex, s.outdeg{carried},
                {teleport}
                + {d} * (coalesce(c.contrib, 0.0::DOUBLE) + {dangling_share}) AS rank
              FROM pr{t} s LEFT JOIN c{t} c ON c.vertex = s.vertex, d{t} dd{consts})""",
        ]
    return (
        f"WITH {graph_sql}, "
        + ",\n  ".join(ctes)
        + f"\n  SELECT vertex, rank FROM pr{n_iterations}"
        + f"\n  ORDER BY rank DESC, vertex ASC LIMIT {top}"
    )


def _pagerank_fixed_sql(n_iterations: int, damping: float = 0.85, top: int = 20) -> str:
    """Twin of operators.pagerank.pagerank_fixed over the CANON graph:
    teleport (1−d)/n and dangling share dm/n."""
    setup = [
        "e2 AS MATERIALIZED (SELECT src, dst FROM canon)",
        "verts2 AS MATERIALIZED (SELECT src AS v FROM e2 UNION SELECT dst FROM e2)",
        "deg AS (SELECT src, count(*) AS outdeg FROM e2 GROUP BY src)",
        """vo AS (SELECT v.v AS vertex, coalesce(d.outdeg, 0) AS outdeg
              FROM verts2 v LEFT JOIN deg d ON d.src = v.v)""",
        "nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS nd FROM verts2)",
        "pr0 AS MATERIALIZED (SELECT vertex, outdeg, 1.0::DOUBLE / nd AS rank FROM vo, nn)",
    ]
    return _power_iteration_fixed_sql(
        CANON_SQL, setup, n_iterations, damping, top, carried="",
        teleport=f"(1.0::DOUBLE - {damping!r}::DOUBLE) / nd",
        dangling_share="dd.dm / nd", consts=", nn",
    )


def _ppr_fixed_sql(
    seeds: list[int], n_iterations: int, damping: float = 0.85, top: int = 20
) -> str:
    """Twin of operators.pagerank.personalized_pagerank_fixed over the SYM
    graph: 1/|S| and 1-d computed once in Python and repr-injected into
    BOTH plans; teleport (1−d)·tele and dangling share dm·tele."""
    tw = f"{1.0 / len(sorted(set(seeds)))!r}::DOUBLE"
    seedlist = ",".join(str(int(s)) for s in sorted(set(seeds)))
    setup = [
        "e2 AS MATERIALIZED (SELECT src, dst FROM sym)",
        "verts2 AS MATERIALIZED (SELECT doc_id AS v FROM documents)",
        "deg AS (SELECT src, count(*) AS outdeg FROM e2 GROUP BY src)",
        f"""vo AS (SELECT v.v AS vertex, coalesce(d.outdeg, 0) AS outdeg,
              CASE WHEN v.v IN ({seedlist}) THEN {tw} ELSE 0.0::DOUBLE END AS tele
              FROM verts2 v LEFT JOIN deg d ON d.src = v.v)""",
        "pr0 AS MATERIALIZED (SELECT vertex, outdeg, tele, tele AS rank FROM vo)",
    ]
    return _power_iteration_fixed_sql(
        SYM_SQL, setup, n_iterations, damping, top, carried=", s.tele",
        teleport=f"{(1.0 - damping)!r}::DOUBLE * s.tele",
        dangling_share="dd.dm * s.tele",
    )


def _hits_fixed_sql(n_iterations: int) -> str:
    """Unrolled HITS (DuckDB), bit-exact twin of operators.hits.hits_fixed
    over the DIR graph: per half-step one gather fold (sender-id order),
    one full-vertex normalization fold (vertex order), one division —
    identical operands in identical order in both engines."""

    def half_step(out: str, scores: str, col_in: str, col: str, send: str, recv: str):
        gathered = _ordered_sum_sql(f"list(s.{col_in} ORDER BY s.vertex)")
        return [
            f"""{out}g AS (SELECT e.{recv} AS vertex, {gathered} AS s
              FROM dir2 e JOIN {scores} s ON s.vertex = e.{send} GROUP BY e.{recv})""",
            f"""{out}f AS MATERIALIZED (SELECT v.vertex,
                coalesce(g.s, 0.0::DOUBLE) AS {col}
              FROM verts2 v LEFT JOIN {out}g g ON g.vertex = v.vertex)""",
            f"""{out}sum AS (SELECT {_ordered_sum_sql(f"list({col} ORDER BY vertex)")}
              AS total FROM {out}f)""",
            f"""{out} AS MATERIALIZED (SELECT vertex,
                coalesce({col} / nullif(total, 0.0::DOUBLE), 0.0::DOUBLE) AS {col}
              FROM {out}f, {out}sum)""",
        ]

    ctes = [
        "dir2 AS MATERIALIZED (SELECT src, dst FROM dir)",
        "verts2 AS MATERIALIZED (SELECT doc_id AS vertex FROM documents)",
        "h0 AS MATERIALIZED (SELECT vertex, 1.0::DOUBLE AS hub FROM verts2)",
    ]
    for t in range(1, n_iterations + 1):
        ctes += half_step(f"a{t}", f"h{t - 1}", "hub", "auth", "src", "dst")
        ctes += half_step(f"h{t}", f"a{t}", "auth", "hub", "dst", "src")
    return (
        f"WITH {DIR_SQL}, "
        + ",\n  ".join(ctes)
        + f"""
  SELECT v.vertex, a.auth AS authority, h.hub AS hub
  FROM verts2 v
  JOIN a{n_iterations} a ON a.vertex = v.vertex
  JOIN h{n_iterations} h ON h.vertex = v.vertex"""
    )


def _coreness_sql(n_rounds: int) -> str:
    """Unrolled iterated-H-index coreness (DuckDB), exact integer twin of
    operators.kcore.coreness over the SYM graph. ``n_rounds`` must be >=
    the Spark fixpoint's round count (extra rounds are no-ops — the
    recurrence is stationary at the fixpoint); the window-rank H-index
    (max rank whose desc-sorted value still >= rank) is tie-order
    invariant, so the arbitrary ORDER BY tiebreak is harmless."""
    ctes = [
        "sym2 AS MATERIALIZED (SELECT src, dst FROM sym)",
        "verts2 AS MATERIALIZED (SELECT doc_id AS vertex FROM documents)",
        """h0 AS MATERIALIZED (SELECT v.vertex,
             CAST(coalesce(d.c, 0) AS BIGINT) AS core
           FROM verts2 v LEFT JOIN
             (SELECT src, count(*) AS c FROM sym2 GROUP BY src) d
             ON d.src = v.vertex)""",
    ]
    for t in range(n_rounds):
        ctes.append(
            f"""r{t} AS (SELECT e.dst AS vertex, h.core,
              row_number() OVER (PARTITION BY e.dst ORDER BY h.core DESC) AS rn
              FROM sym2 e JOIN h{t} h ON h.vertex = e.src)"""
        )
        ctes.append(
            f"""h{t + 1} AS MATERIALIZED (SELECT p.vertex,
              least(p.core, CAST(coalesce(n.h, 0) AS BIGINT)) AS core
              FROM h{t} p LEFT JOIN
                (SELECT vertex, max(CASE WHEN core >= rn THEN rn END) AS h
                 FROM r{t} GROUP BY vertex) n ON n.vertex = p.vertex)"""
        )
    return (
        f"WITH {SYM_SQL}, "
        + ",\n  ".join(ctes)
        + f"\n  SELECT vertex, core FROM h{n_rounds}"
    )


def _khop_sql(max_hops: int) -> str:
    """Unrolled multi-source BFS over the DIR graph (DuckDB), exact
    integer twin of operators.bfs.bfs_hops seeded at the block heads:
    per round the frontier (dist = round) sends dist+1, min() settles."""
    ctes = [
        "dir2 AS MATERIALIZED (SELECT src, dst FROM dir)",
        f"""d0 AS MATERIALIZED (SELECT doc_id AS vertex, CAST(0 AS BIGINT) AS dist
           FROM documents WHERE doc_id % {BLOCK} = 0)""",
    ]
    for t in range(max_hops):
        ctes.append(
            f"""d{t + 1} AS MATERIALIZED (SELECT vertex, min(dist) AS dist FROM (
              SELECT vertex, dist FROM d{t}
              UNION ALL
              SELECT e.dst, d.dist + 1 FROM dir2 e
                JOIN d{t} d ON d.vertex = e.src AND d.dist = {t}
            ) GROUP BY vertex)"""
        )
    return (
        f"WITH {DIR_SQL}, "
        + ",\n  ".join(ctes)
        + f"\n  SELECT vertex, dist FROM d{max_hops}"
    )


def _anf_sql(rounds: int, num_registers: int = 4) -> str:
    """Unrolled ANF sketch propagation (DuckDB), exact integer twin of
    operators.anf.anf over the SYM graph: identical portable md5 hash,
    trailing-zero init, per-round bit_or gather, lowest-zero-bit finish
    (xor(m, m+1) — ``^`` is power in DuckDB, so the function form). As
    with coreness, ``rounds`` past the sketch fixpoint are no-ops."""
    from .functions.hashing import portable_hash64_sql

    regs = list(range(num_registers))

    def init(i: int) -> str:
        h = portable_hash64_sql(f"CAST(vertex AS VARCHAR) || ':{i}'")
        return (
            f"(1::BIGINT << least(bit_count(({h} & -{h}) - 1), 62)) AS m{i}"
        )

    ctes = [
        "sym2 AS MATERIALIZED (SELECT src, dst FROM sym)",
        "verts2 AS MATERIALIZED (SELECT doc_id AS vertex FROM documents)",
        "n0 AS MATERIALIZED (SELECT vertex, "
        + ", ".join(init(i) for i in regs)
        + " FROM verts2)",
    ]
    for t in range(rounds):
        ors = ", ".join(f"bit_or(m.m{i}) AS o{i}" for i in regs)
        ctes.append(
            f"""a{t} AS (SELECT e.dst AS vertex, {ors}
              FROM sym2 e JOIN n{t} m ON m.vertex = e.src GROUP BY e.dst)"""
        )
        merged = ", ".join(
            f"s.m{i} | coalesce(g.o{i}, 0::BIGINT) AS m{i}" for i in regs
        )
        ctes.append(
            f"""n{t + 1} AS MATERIALIZED (SELECT s.vertex, {merged}
              FROM n{t} s LEFT JOIN a{t} g ON g.vertex = s.vertex)"""
        )
    finals = ", ".join(
        f"CAST(bit_count(xor(m{i}, m{i} + 1)) - 1 AS BIGINT) AS r{i}" for i in regs
    )
    return (
        f"WITH {SYM_SQL}, "
        + ",\n  ".join(ctes)
        + f"\n  SELECT vertex, {finals} FROM n{rounds}"
    )


def _harmonic_sql(rounds: int, num_registers: int = 4) -> str:
    """Unrolled ANF-based harmonic centrality (DuckDB), exact integer
    twin of operators.anf.harmonic_centrality: the anf mask recurrence,
    per-round integer ball estimates est_t = Σ_i 2^{R_i}, telescoped
    score = Σ_t (L/t)·(est_t − est_{t−1}) with L = lcm(1..rounds)."""
    from math import lcm

    from .functions.hashing import portable_hash64_sql

    regs = list(range(num_registers))
    big_l = lcm(*range(1, rounds + 1))

    def init(i: int) -> str:
        h = portable_hash64_sql(f"CAST(vertex AS VARCHAR) || ':{i}'")
        return f"(1::BIGINT << least(bit_count(({h} & -{h}) - 1), 62)) AS m{i}"

    est_expr = " + ".join(
        f"(1::BIGINT << (bit_count(xor(m{i}, m{i} + 1)) - 1))" for i in regs
    )
    ctes = [
        "sym2 AS MATERIALIZED (SELECT src, dst FROM sym)",
        "verts2 AS MATERIALIZED (SELECT doc_id AS vertex FROM documents)",
        "n0 AS MATERIALIZED (SELECT vertex, "
        + ", ".join(init(i) for i in regs)
        + " FROM verts2)",
    ]
    for t in range(rounds):
        ors = ", ".join(f"bit_or(m.m{i}) AS o{i}" for i in regs)
        ctes.append(
            f"""a{t} AS (SELECT e.dst AS vertex, {ors}
              FROM sym2 e JOIN n{t} m ON m.vertex = e.src GROUP BY e.dst)"""
        )
        merged = ", ".join(
            f"s.m{i} | coalesce(g.o{i}, 0::BIGINT) AS m{i}" for i in regs
        )
        ctes.append(
            f"""n{t + 1} AS MATERIALIZED (SELECT s.vertex, {merged}
              FROM n{t} s LEFT JOIN a{t} g ON g.vertex = s.vertex)"""
        )
    for t in range(rounds + 1):
        ctes.append(f"est{t} AS (SELECT vertex, {est_expr} AS e{t} FROM n{t})")
    terms = " + ".join(
        f"{big_l // t}::BIGINT * (e{t} - e{t - 1})" for t in range(1, rounds + 1)
    )
    joins = " ".join(f"JOIN est{t} USING (vertex)" for t in range(1, rounds + 1))
    return (
        f"WITH {SYM_SQL}, "
        + ",\n  ".join(ctes)
        + f"\n  SELECT vertex, CAST({terms} AS BIGINT) AS score FROM est0 {joins}"
    )


def _walks_sql(walk_len: int) -> str:
    """Unrolled deterministic random walks (DuckDB), exact twin of
    operators.walks.random_walks from the block-head seeds over the DIR
    graph: per step one arg_min join on the identical portable hash of
    "<walk_id>:<t>:<u>:<w>"."""
    from .functions.hashing import portable_hash64_sql

    ctes = [
        "dir2 AS MATERIALIZED (SELECT src, dst FROM dir)",
        f"""w0 AS MATERIALIZED (SELECT doc_id AS walk_id, doc_id AS vertex
           FROM documents WHERE doc_id % {BLOCK} = 0)""",
    ]
    for t in range(1, walk_len + 1):
        h = portable_hash64_sql(
            "CAST(p.walk_id AS VARCHAR) || "
            f"':{t}:' || CAST(e.src AS VARCHAR) || ':' || CAST(e.dst AS VARCHAR)"
        )
        ctes.append(
            f"""w{t} AS MATERIALIZED (SELECT p.walk_id,
              arg_min(e.dst, {h}) AS vertex
              FROM w{t - 1} p JOIN dir2 e ON e.src = p.vertex
              GROUP BY p.walk_id)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT walk_id, {t} AS step, vertex FROM w{t}" for t in range(walk_len + 1)
    )
    return f"WITH {DIR_SQL}, " + ",\n  ".join(ctes) + f"\n  {selects}"


def _truss_support_ctes(edge_cte: str, tag: str) -> list[str]:
    """One support-recount round over ``edge_cte``: triangle enumeration
    (id-oriented a<b<c join, same shape as the triangle oracle) + per-edge
    support counts. → CTE list ending with sup{tag}."""
    return [
        f"""t{tag} AS (SELECT a.src AS a, a.dst AS b, b.dst AS c
          FROM {edge_cte} a JOIN {edge_cte} b ON a.dst = b.src
          JOIN {edge_cte} c ON c.src = a.src AND c.dst = b.dst)""",
        f"""sup{tag} AS (SELECT src, dst, count(*) AS support FROM (
            SELECT a AS src, b AS dst FROM t{tag}
            UNION ALL SELECT b, c FROM t{tag}
            UNION ALL SELECT a, c FROM t{tag}) GROUP BY src, dst)""",
    ]


def _truss_sql(stages: dict[int, int]) -> str:
    """Unrolled truss decomposition (DuckDB), exact twin of
    operators.structure.truss_decomposition over the TRICANON graph:
    staged k-truss peels (k ascending), each stage ``stages[k]`` unrolled
    support-recount rounds. Peeling is monotone, so rounds past a
    stage's fixpoint are no-ops — the unroll counts carry margin over
    the measured rounds (3/5/3 measured at 500 docs: {3:1, 4:3, 5:1})."""
    ctes = ["e0 AS MATERIALIZED (SELECT src, dst FROM tcanon)"]
    n = 0
    stage_end: dict[int, int] = {}
    for k in sorted(stages):
        for _ in range(stages[k]):
            ctes.extend(_truss_support_ctes(f"e{n}", str(n)))
            ctes.append(
                f"""e{n + 1} AS MATERIALIZED (
                  SELECT e.src, e.dst FROM e{n} e
                  LEFT JOIN sup{n} s ON s.src = e.src AND s.dst = e.dst
                  WHERE coalesce(s.support, 0) >= {k - 2})"""
            )
            n += 1
        stage_end[k] = n
    marks = " ".join(
        f"""LEFT JOIN (SELECT src, dst, 1 AS m{k} FROM e{stage_end[k]}) k{k}
            ON k{k}.src = t.src AND k{k}.dst = t.dst"""
        for k in sorted(stages)
    )
    case = "CASE " + " ".join(
        f"WHEN m{k} IS NOT NULL THEN {k}" for k in sorted(stages, reverse=True)
    ) + " ELSE 2 END"
    return (
        f"WITH {TRICANON_SQL}, "
        + ",\n  ".join(ctes)
        + f"\n  SELECT t.src, t.dst, {case} AS truss FROM tcanon t {marks}"
    )


def _edge_support_sql() -> str:
    """Per-edge triangle support over the TRICANON graph."""
    ctes = _truss_support_ctes("tcanon", "0")
    return (
        f"WITH {TRICANON_SQL}, "
        + ",\n  ".join(ctes)
        + """
  SELECT e.src, e.dst, coalesce(s.support, 0) AS support
  FROM tcanon e LEFT JOIN sup0 s ON s.src = e.src AND s.dst = e.dst"""
    )


def _linkpred_sql(k: int, max_degree: int) -> str:
    """Top-k link prediction (DuckDB), exact twin of
    operators.linkpred.link_prediction_topk: common-neighbor / Jaccard /
    resource-allocation scores over non-adjacent 2-hop pairs, wedge
    middles capped at ``max_degree``. The RA sum folds in ascending
    middle-id order (:func:`_ordered_sum_sql`, the shared
    cross-engine-exact summation)."""
    fold = _ordered_sum_sql("list(1.0::DOUBLE / CAST(dw AS DOUBLE) ORDER BY w)")
    return f"""WITH {SYM_SQL},
  deg AS MATERIALIZED (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src),
  wed AS (
    SELECT a.src AS u, b.dst AS v, a.dst AS w, d.degree AS dw
    FROM sym a JOIN sym b ON b.src = a.dst JOIN deg d ON d.id = a.dst
    WHERE a.src < b.dst AND d.degree <= {max_degree}
  ),
  cand AS (
    SELECT u, v, w, dw FROM wed
    WHERE NOT EXISTS (SELECT 1 FROM canon c WHERE c.src = wed.u AND c.dst = wed.v)
  ),
  sc AS (
    SELECT u AS src, v AS dst, count(*) AS common_neighbors, {fold} AS resource_alloc
    FROM cand GROUP BY u, v
  )
  SELECT sc.src, sc.dst, common_neighbors,
    CAST(common_neighbors AS DOUBLE)
      / CAST(du.degree + dv.degree - common_neighbors AS DOUBLE) AS jaccard,
    resource_alloc
  FROM sc JOIN deg du ON du.id = sc.src JOIN deg dv ON dv.id = sc.dst
  ORDER BY common_neighbors DESC, sc.src ASC, sc.dst ASC LIMIT {k}"""


def _cooc_sql(walk_len: int, window: int) -> str:
    """Skip-gram co-occurrence counts over the unrolled walk corpus —
    the walk twin wrapped as a CTE, then the identical bounded
    step-distance self-join in both directions."""
    return f"""WITH corpus AS ({_walks_sql(walk_len)}),
  p AS (
    SELECT a.vertex AS center, b.vertex AS context
    FROM corpus a JOIN corpus b
    ON b.walk_id = a.walk_id AND b.step - a.step BETWEEN 1 AND {window}
  )
  SELECT center, context, count(*) AS pairs FROM (
    SELECT center, context FROM p
    UNION ALL SELECT context, center FROM p
  ) GROUP BY center, context"""


def _lpa_fixed_sql(n_iterations: int) -> str:
    """Unrolled bounded-iteration LPA (DuckDB), exact integer twin of
    operators.lpa.label_propagation_communities: per round, each vertex
    takes its most frequent neighbor label, ties to the smallest label,
    keeping its own when it has no neighbors. All-integer arithmetic —
    no float ordering concerns; a converged fixpoint is stable under the
    remaining rounds, so Spark's early stop still matches."""
    # MATERIALIZED on the chain CTEs — DuckDB inlines multi-referenced
    # CTEs otherwise and l{t} (referenced 2-3x per round) would expand
    # exponentially
    ctes = [
        "sym2 AS MATERIALIZED (SELECT src, dst FROM sym)",
        "verts2 AS (SELECT src AS v FROM sym2 UNION SELECT dst FROM sym2)",
        "l0 AS MATERIALIZED (SELECT v AS vertex, v AS label FROM verts2)",
    ]
    for t in range(n_iterations):
        ctes.append(
            f"""c{t} AS MATERIALIZED (SELECT e.dst AS vertex, l.label AS label, count(*) AS cnt
              FROM sym2 e JOIN l{t} l ON l.vertex = e.src GROUP BY 1, 2)"""
        )
        ctes.append(
            f"m{t} AS (SELECT vertex, max(cnt) AS mc FROM c{t} GROUP BY vertex)"
        )
        ctes.append(
            f"""b{t} AS (SELECT c.vertex, min(c.label) AS new_label
              FROM c{t} c JOIN m{t} m ON m.vertex = c.vertex AND c.cnt = m.mc
              GROUP BY c.vertex)"""
        )
        ctes.append(
            f"""l{t + 1} AS MATERIALIZED (SELECT s.vertex, coalesce(b.new_label, s.label) AS label
              FROM l{t} s LEFT JOIN b{t} b ON b.vertex = s.vertex)"""
        )
    return (
        f"WITH {SYM_SQL}, "
        + ",\n  ".join(ctes)
        + f"\n  SELECT vertex, label FROM l{n_iterations}"
    )


SHINGLES_SQL = f"""
  sh0 AS (
    SELECT doc_id, {_words_sql(_norm_sql("text"))} AS w FROM documents
  ),
  sh1 AS (
    SELECT doc_id,
      CASE WHEN len(w) >= 3
        THEN list_transform(generate_series(1, len(w) - 2),
                            i -> array_to_string(w[i:i+2], ' '))
        ELSE [array_to_string(w, ' ')] END AS shingles
    FROM sh0
  ),
  shv AS (
    SELECT DISTINCT doc_id AS _id, {_hash31_sql("sh")} AS x
    FROM sh1, unnest(shingles) AS t(sh)
  )"""


# ===========================================================================
# Query registry
# ===========================================================================

def build_queries():
    """→ (queries: dict[name, callable(spark, sf_dir) -> DataFrame],
          oracles: dict[name, sql])."""
    queries: dict = {}
    oracles: dict[str, str] = {}

    def q(name, fn, sql=None):
        queries[name] = fn
        if sql is not None:
            oracles[name] = sql

    # ---------------- graph construction -----------------------------------
    q(
        "edges_build",
        lambda spark, sf: canonicalize(raw_edges(spark, sf)),
        f"WITH {CANON_SQL} SELECT src, dst FROM canon",
    )
    q(
        "degree_stats",
        lambda spark, sf: degree_stats(symmetrize(raw_edges(spark, sf))),
        f"""WITH {SYM_SQL}
        SELECT min(degree) AS min_degree, max(degree) AS max_degree,
               avg(degree) AS avg_degree, count(*) AS num_vertices
        FROM (SELECT src, count(*) AS degree FROM sym GROUP BY src)""",
    )
    q(
        "degree_topk",
        lambda spark, sf: degrees(symmetrize(raw_edges(spark, sf)))
        .orderBy(F.desc("degree"), F.asc("id"))
        .limit(10),
        f"""WITH {SYM_SQL}
        SELECT src AS id, count(*) AS degree FROM sym GROUP BY src
        ORDER BY degree DESC, id ASC LIMIT 10""",
    )

    # ---------------- connected components (3 algorithms, 1 oracle) --------
    cc_oracle = f"WITH RECURSIVE {CC_SQL} SELECT vertex, label FROM cc"

    def _cc_two_phase(spark, sf):
        return cc_two_phase(
            spark, raw_edges(spark, sf), vertices=doc_vertices(spark, sf)
        )[0]

    def _cc_stars(spark, sf):
        return cc_alternating_stars(
            spark, raw_edges(spark, sf), vertices=doc_vertices(spark, sf)
        )[0]

    def _cc_lp(spark, sf):
        return cc_label_propagation(
            spark, symmetrize(raw_edges(spark, sf)), vertices=doc_vertices(spark, sf)
        )[0]

    def _cc_afforest(spark, sf):
        return cc_afforest(
            spark, raw_edges(spark, sf), vertices=doc_vertices(spark, sf)
        )[0]

    def _cc_auto(spark, sf):
        # algorithm-selecting hybrid: on the low-diameter web graph this
        # takes the pure-LP path; the stars hand-off path is differential-
        # tested on high-diameter grids (tests/test_highdiam.py)
        return cc_auto(
            spark, symmetrize(raw_edges(spark, sf)), vertices=doc_vertices(spark, sf)
        )[0]

    q("cc_labels", _cc_two_phase, cc_oracle)
    q("cc_labels_stars", _cc_stars, cc_oracle)
    q("cc_labels_labelprop", _cc_lp, cc_oracle)
    q("cc_labels_afforest", _cc_afforest, cc_oracle)
    q("cc_labels_auto", _cc_auto, cc_oracle)
    q(
        "cc_component_sizes",
        lambda spark, sf: component_sizes(_cc_two_phase(spark, sf)),
        f"""WITH RECURSIVE {CC_SQL}
        SELECT label, count(*) AS size FROM cc GROUP BY label""",
    )
    q(
        "cc_component_stats",
        lambda spark, sf: component_stats(_cc_two_phase(spark, sf)),
        f"""WITH RECURSIVE {CC_SQL}
        SELECT count(*) AS num_components, min(size) AS min_size,
               max(size) AS max_size, avg(size) AS avg_size
        FROM (SELECT label, count(*) AS size FROM cc GROUP BY label)""",
    )
    q(
        "cc_top_components",
        lambda spark, sf: top_components(_cc_two_phase(spark, sf), k=10),
        f"""WITH RECURSIVE {CC_SQL}
        SELECT label, count(*) AS size FROM cc GROUP BY label
        ORDER BY size DESC, label ASC LIMIT 10""",
    )

    # ---------------- triangles ---------------------------------------------
    # degree orientation is the default here: the right plan for anything
    # power-law (hub wedge fan-out becomes O(sqrt(E)) per vertex); the
    # triangle SET is orientation-invariant, so the oracle keeps the
    # simpler id-oriented join
    def _tri(spark, sf):
        n = triangle_count(spark, raw_edges(spark, sf), orient_by_degree=True)
        return spark.createDataFrame([(n,)], "triangles long")

    q(
        "triangle_count",
        _tri,
        f"""WITH {CANON_SQL}
        SELECT count(*) AS triangles
        FROM canon a JOIN canon b ON a.dst = b.src
        JOIN canon c ON c.src = a.src AND c.dst = b.dst""",
    )
    q(
        "triangles_per_vertex",
        lambda spark, sf: triangles_per_vertex(
            spark, raw_edges(spark, sf), orient_by_degree=True
        ),
        f"""WITH {CANON_SQL},
        tri AS (
          SELECT a.src AS a, a.dst AS b, b.dst AS c
          FROM canon a JOIN canon b ON a.dst = b.src
          JOIN canon c ON c.src = a.src AND c.dst = b.dst
        ),
        members AS (
          SELECT a AS vertex FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        )
        SELECT vertex, count(*) AS triangles FROM members GROUP BY vertex""",
    )

    # ---------------- iterative fixpoints, exact cross-engine twins ---------
    # pagerank_fixed: order-deterministic folds make every rank BIT-EXACT
    # across engines (see operators/pagerank.py docstring); the
    # tol-converged pagerank() stays the production/bench path (pytest
    # checks it against the numpy oracle at 1e-6).
    PR_ITERS = 5

    def _pr(spark, sf):
        ranks = pagerank_fixed(
            spark, canonicalize(raw_edges(spark, sf)), n_iterations=PR_ITERS
        )
        return ranks.orderBy(F.desc("rank"), F.asc("vertex")).limit(20)

    q("pagerank_top20", _pr, _pagerank_fixed_sql(PR_ITERS, top=20))

    # personalized PageRank: restart at a 3-seed set spanning three
    # blocks; scores are nonzero exactly on the seeds' components, so
    # top-20 is stable (24 positive scores; cross-block mirror ties are
    # bit-exact in both engines and break on vertex asc)
    PPR_SEEDS = [0, 9, 33]
    PPR_ITERS = 5

    def _ppr(spark, sf):
        ranks = personalized_pagerank_fixed(
            spark,
            symmetrize(raw_edges(spark, sf)),
            PPR_SEEDS,
            n_iterations=PPR_ITERS,
            vertices=doc_vertices(spark, sf),
        )
        return ranks.orderBy(F.desc("rank"), F.asc("vertex")).limit(20)

    q("ppr_top20", _ppr, _ppr_fixed_sql(PPR_SEEDS, PPR_ITERS, top=20))

    # HITS over the directed cyclic graph: block heads collect the star
    # in-links (authorities), members point at heads (hubs)
    HITS_ITERS = 5

    def _hits(spark, sf):
        return hits_fixed(
            spark,
            raw_directed_edges(spark, sf),
            n_iterations=HITS_ITERS,
            vertices=doc_vertices(spark, sf),
        )

    q("hits_scores", _hits, _hits_fixed_sql(HITS_ITERS))

    # SCC of the directed graph — full blocks are 8-cycles (one SCC
    # each), the trailing partial block trims to singletons; label = min
    # member, so the recursive mutual-reachability closure is an exact
    # integer oracle
    def _scc(spark, sf):
        labels, _ = scc(
            spark, raw_directed_edges(spark, sf), vertices=doc_vertices(spark, sf)
        )
        return labels

    q(
        "scc_labels",
        _scc,
        f"""WITH RECURSIVE {DIR_SQL},
        verts AS (SELECT doc_id AS v FROM documents),
        reach(s, d) AS (
          SELECT src, dst FROM dir
          UNION
          SELECT r.s, e.dst FROM reach r JOIN dir e ON e.src = r.d
        ),
        mutual AS (
          SELECT a.s AS u, a.d AS w FROM reach a
          JOIN reach b ON b.s = a.d AND b.d = a.s
        )
        SELECT v.v AS vertex, least(v.v, coalesce(min(m.w), v.v)) AS label
        FROM verts v LEFT JOIN mutual m ON m.u = v.v GROUP BY v.v""",
    )

    # coreness over the undirected graph — iterated H-index fixpoint;
    # the twin unrolls CORENESS_SQL_ROUNDS rounds (>= the fixpoint depth:
    # the peel cascade is bounded by the within-block chain, length
    # BLOCK; test_kcore pins the slack)
    CORENESS_SQL_ROUNDS = 16

    def _coreness(spark, sf):
        cores, _ = coreness(
            spark,
            symmetrize(raw_edges(spark, sf)),
            vertices=doc_vertices(spark, sf),
        )
        return cores

    q("coreness", _coreness, _coreness_sql(CORENESS_SQL_ROUNDS))

    # k-hop forward neighborhood of the block-head seed set over the
    # directed graph — the seed-expansion primitive; hop 6 leaves the
    # deepest chain position (7 hops from every head) unreached, so the
    # cap is exercised, not just the exhaustion fixpoint
    KHOP = 6

    def _khop(spark, sf):
        heads = (
            _docs(spark, sf)
            .filter(F.col("doc_id") % BLOCK == 0)
            .select(F.col("doc_id").alias("id"))
        )
        dists, _ = bfs_hops(
            spark, raw_directed_edges(spark, sf), heads, max_hops=KHOP
        )
        return dists

    q("khop_neighborhood", _khop, _khop_sql(KHOP))

    # ANF sketches over the undirected graph — 4 FM registers, 4 rounds;
    # everything through the register indexes is integer bit math, so
    # the gate compares exactly (the float ball estimate is a separate
    # non-gated convenience, operators.anf.neighborhood_estimate)
    ANF_ROUNDS = 4

    def _anf(spark, sf):
        sketches, _ = anf(
            spark,
            symmetrize(raw_edges(spark, sf)),
            rounds=ANF_ROUNDS,
            vertices=doc_vertices(spark, sf),
        )
        return sketches

    q("anf_balls", _anf, _anf_sql(ANF_ROUNDS))

    # ANF-based harmonic centrality — same sketch recurrence, integer
    # L-scaled telescoping sum (rank signal; exact integers both sides)
    def _harmonic(spark, sf):
        scores, _ = harmonic_centrality(
            spark,
            symmetrize(raw_edges(spark, sf)),
            rounds=ANF_ROUNDS,
            vertices=doc_vertices(spark, sf),
        )
        return scores

    q("harmonic_scores", _harmonic, _harmonic_sql(ANF_ROUNDS))

    # deterministic random-walk corpus from the block heads over the
    # directed graph — the DeepWalk-style training-data generator;
    # reproducible by construction (hash-arg-min transitions)
    WALK_LEN = 6

    def _walks(spark, sf):
        heads = (
            _docs(spark, sf)
            .filter(F.col("doc_id") % BLOCK == 0)
            .select(F.col("doc_id").alias("id"))
        )
        return random_walks(
            spark, raw_directed_edges(spark, sf), heads, walk_len=WALK_LEN
        )

    q("walk_corpus", _walks, _walks_sql(WALK_LEN))

    # skip-gram co-occurrence over the same corpus — the word2vec
    # training-pair generator downstream of the walks
    COOC_WINDOW = 2

    def _cooc(spark, sf):
        return walk_cooccurrence(_walks(spark, sf), window=COOC_WINDOW)

    q("walk_cooc", _cooc, _cooc_sql(WALK_LEN, COOC_WINDOW))

    # ---------------- structural statistics (round-5 family) ---------------
    # clustering / transitivity / assortativity on the undirected web
    # graph; reciprocity on the directed one; support/truss on the denser
    # TRICANON derivative (mixed truss numbers by construction). Every
    # emitted float is ONE division of integer-exact operands.
    q(
        "clustering_coeff",
        lambda spark, sf: clustering_coefficients(
            spark, raw_edges(spark, sf), vertices=doc_vertices(spark, sf)
        ),
        f"""WITH {SYM_SQL},
        deg AS (SELECT src AS vertex, count(*) AS degree FROM sym GROUP BY src),
        tri AS (
          SELECT a.src AS a, a.dst AS b, b.dst AS c
          FROM canon a JOIN canon b ON a.dst = b.src
          JOIN canon c ON c.src = a.src AND c.dst = b.dst
        ),
        members AS (
          SELECT a AS vertex FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        ),
        tcnt AS (SELECT vertex, count(*) AS triangles FROM members GROUP BY vertex)
        SELECT d.doc_id AS vertex,
          coalesce(g.degree, 0) AS degree,
          coalesce(t.triangles, 0) AS triangles,
          CASE WHEN coalesce(g.degree, 0) >= 2
            THEN CAST(2 * coalesce(t.triangles, 0) AS DOUBLE)
                 / CAST(g.degree * (g.degree - 1) AS DOUBLE)
            ELSE 0.0 END AS lcc
        FROM documents d
        LEFT JOIN deg g ON g.vertex = d.doc_id
        LEFT JOIN tcnt t ON t.vertex = d.doc_id""",
    )
    q(
        "transitivity",
        lambda spark, sf: transitivity(spark, raw_edges(spark, sf)),
        f"""WITH {SYM_SQL},
        tc AS (
          SELECT count(*) AS t
          FROM canon a JOIN canon b ON a.dst = b.src
          JOIN canon c ON c.src = a.src AND c.dst = b.dst
        ),
        dd AS (
          SELECT CAST(sum(degree * (degree - 1)) AS BIGINT) AS sum_dd1
          FROM (SELECT src, count(*) AS degree FROM sym GROUP BY src)
        )
        SELECT CAST(t AS BIGINT) AS triangles,
          sum_dd1 // 2 AS wedges,
          CASE WHEN sum_dd1 > 0
            THEN CAST(6 * t AS DOUBLE) / CAST(sum_dd1 AS DOUBLE)
            ELSE 0.0 END AS transitivity
        FROM tc, dd""",
    )
    q(
        "assortativity",
        lambda spark, sf: degree_assortativity(spark, raw_edges(spark, sf)),
        f"""WITH {SYM_SQL},
        deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src),
        je AS (
          SELECT dj.degree AS j, dk.degree AS k
          FROM canon c JOIN deg dj ON dj.id = c.src JOIN deg dk ON dk.id = c.dst
        ),
        s AS (
          SELECT count(*) AS num_edges,
            CAST(sum(j * k) AS BIGINT) AS sum_jk,
            CAST(sum(j + k) AS BIGINT) AS sum_jpk,
            CAST(sum(j * j + k * k) AS BIGINT) AS sum_j2k2
          FROM je
        )
        SELECT num_edges, sum_jk, sum_jpk, sum_j2k2,
          CASE WHEN 2 * num_edges * sum_j2k2 - sum_jpk * sum_jpk <> 0
            THEN CAST(4 * num_edges * sum_jk - sum_jpk * sum_jpk AS DOUBLE)
                 / CAST(2 * num_edges * sum_j2k2 - sum_jpk * sum_jpk AS DOUBLE)
            ELSE NULL END AS assortativity
        FROM s""",
    )
    q(
        "reciprocity",
        lambda spark, sf: reciprocity(raw_directed_edges(spark, sf)),
        f"""WITH {DIR_SQL},
        m AS (
          SELECT count(*) AS mutual_edges FROM dir e
          WHERE EXISTS (SELECT 1 FROM dir r WHERE r.src = e.dst AND r.dst = e.src)
        ),
        n AS (SELECT count(*) AS num_edges FROM dir)
        SELECT num_edges, mutual_edges,
          CASE WHEN num_edges > 0
            THEN CAST(mutual_edges AS DOUBLE) / CAST(num_edges AS DOUBLE)
            ELSE 0.0 END AS reciprocity
        FROM n, m""",
    )
    q(
        "edge_support",
        lambda spark, sf: edge_support(spark, raw_tri_edges(spark, sf)),
        _edge_support_sql(),
    )

    # staged k-truss peel; unroll counts carry margin over the measured
    # fixpoint rounds {3:1, 4:3, 5:1} (extra rounds are no-ops)
    TRUSS_STAGES = {3: 3, 4: 5, 5: 3}

    def _truss(spark, sf):
        out, _info = truss_decomposition(spark, raw_tri_edges(spark, sf))
        # envelope guard (r5 advisor): the DuckDB twin unrolls TRUSS_STAGES
        # rounds per stage up to k=5 — a deeper peel or higher truss at
        # some future scale factor must fail LOUDLY here, not let the two
        # engines truncate differently and diverge silently. Raised, not
        # asserted, so the guard survives ``python -O``.
        if not (
            _info["converged"]
            and _info["max_truss"] <= max(TRUSS_STAGES)
            and all(
                _info["stage_rounds"].get(k, 0) <= n for k, n in TRUSS_STAGES.items()
            )
        ):
            raise RuntimeError(
                f"truss_decomp outside the DuckDB twin's envelope {TRUSS_STAGES}: {_info}"
            )
        return out

    q("truss_decomp", _truss, _truss_sql(TRUSS_STAGES))

    LP_TOPK, LP_MAXDEG = 50, 6

    def _linkpred(spark, sf):
        # exact_fold: the bit-exact ordered RA fold the DuckDB twin
        # reproduces; the library default is the associative scale-mode
        # sum (round 6 — the r5 verdict's fold-default flip)
        return link_prediction_topk(
            spark, raw_edges(spark, sf), k=LP_TOPK, max_degree=LP_MAXDEG,
            exact_fold=True,
        )

    q("linkpred_top50", _linkpred, _linkpred_sql(LP_TOPK, LP_MAXDEG))

    LPA_ITERS = 8

    def _lpa(spark, sf):
        labels, _ = label_propagation_communities(
            spark, symmetrize(raw_edges(spark, sf)), max_iterations=LPA_ITERS
        )
        return labels

    # all-integer argmax updates — the unrolled SQL twin is exact, and a
    # pre-cap fixpoint is stable under the remaining rounds
    q("lpa_communities", _lpa, _lpa_fixed_sql(LPA_ITERS))

    # ---------------- text analysis -----------------------------------------
    q(
        "token_counts",
        lambda spark, sf: _docs(spark, sf).select(
            "doc_id", token_count_col("text").alias("n_tokens")
        ),
        f"SELECT doc_id, len({_words_sql()}) AS n_tokens FROM documents",
    )
    q(
        "bpe_token_estimates",
        lambda spark, sf: _docs(spark, sf).select(
            "doc_id", bpe_token_estimate_col("text").alias("n_bpe")
        ),
        r"""SELECT doc_id,
            len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
              AS n_bpe
        FROM documents""",
    )
    stop_en = _stop_hits_sql("en")
    q(
        "quality_scores",
        lambda spark, sf: _docs(spark, sf).select(
            "doc_id", quality_score_col("text").alias("quality_score")
        ),
        f"""WITH m AS (
          SELECT doc_id,
                 len({_words_sql()}) AS n_words,
                 length(text) AS n_chars,
                 length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
                 {stop_en} AS n_stop
          FROM documents
        )
        SELECT doc_id,
          (CASE WHEN n_words BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)::DOUBLE
        + (CASE WHEN n_words > 0
                 AND (n_chars::DOUBLE / n_words) BETWEEN 3.0 AND 12.0
                THEN 0.25 ELSE 0.0 END)::DOUBLE
        + (CASE WHEN n_words > 0
                 AND (n_stop::DOUBLE / n_words) BETWEEN 0.02 AND 0.6
                THEN 0.25 ELSE 0.0 END)::DOUBLE
        + (CASE WHEN n_chars = 0 OR (n_punct::DOUBLE / n_chars) <= 0.2
                THEN 0.25 ELSE 0.0 END)::DOUBLE AS quality_score
        FROM m""",
    )
    langs = sorted(LANG_STOPWORDS)
    lang_scores = ", ".join(f"{_stop_hits_sql(lg)} AS s_{lg}" for lg in langs)
    g = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    argmax = " ".join(f"WHEN s_{lg} = g THEN '{lg}'" for lg in langs)
    q(
        "lang_id",
        lambda spark, sf: _docs(spark, sf).select(
            "doc_id", lang_id_col("text").alias("lang_pred")
        ),
        f"""WITH s AS (SELECT doc_id, {lang_scores} FROM documents),
        s2 AS (SELECT doc_id, s_de, s_en, s_es, s_fr, {g} AS g FROM s)
        SELECT doc_id,
               CASE WHEN g = 0 OR g IS NULL THEN 'und' {argmax} END AS lang_pred
        FROM s2""",
    )
    q(
        "doc_fingerprints",
        lambda spark, sf: _docs(spark, sf).select(
            "doc_id", fingerprint_col("text").alias("fingerprint")
        ),
        f"SELECT doc_id, md5({_norm_sql()}) AS fingerprint FROM documents",
    )
    q(
        "exact_dup_groups",
        lambda spark, sf: exact_duplicates(_docs(spark, sf)),
        f"""SELECT md5({_norm_sql()}) AS fingerprint,
               min(doc_id) AS canonical_id, count(*) AS dup_count
        FROM documents GROUP BY 1""",
    )

    # ---------------- MinHash / SimHash (signatures, exact SQL twins) -------
    params = minhash_params(MINHASH_PERMS)
    min_aggs_sql = ", ".join(
        f"min(({a} * x + {b}) % {MERSENNE_31}) AS h{i}"
        for i, (a, b) in enumerate(params)
    )

    def _minhash_wide(spark, sf):
        sigs = minhash_signatures(_docs(spark, sf), num_perm=MINHASH_PERMS)
        cols = [F.col("sig")[i].alias(f"h{i}") for i in range(MINHASH_PERMS)]
        return sigs.select("doc_id", *cols)

    q(
        "minhash_signatures",
        _minhash_wide,
        f"""WITH {SHINGLES_SQL}
        SELECT _id AS doc_id, {min_aggs_sql} FROM shv GROUP BY _id""",
    )

    simhash_terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << j}::BIGINT ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )

    def _simhash(spark, sf):
        return simhash_signatures(_docs(spark, sf), bits=SIMHASH_BITS)

    q(
        "simhash_signatures",
        _simhash,
        f"""WITH w0 AS (
          SELECT doc_id,
                 regexp_split_to_array({_norm_sql()}, ' ') AS words
          FROM documents
        ),
        wh AS (
          SELECT doc_id, (('0x' || substr(md5(w), 1, 15))::BIGINT) AS h
          FROM w0, unnest(words) AS t(w)
        )
        SELECT doc_id, ({simhash_terms}) AS simhash
        FROM wh GROUP BY doc_id""",
    )

    # ---------------- n-gram Jaccard ----------------------------------------
    def _jaccard(spark, sf):
        from .operators.dedup import ngram_jaccard_pairs

        return ngram_jaccard_pairs(_docs(spark, sf), threshold=0.1)

    q(
        "ngram_jaccard_pairs",
        _jaccard,
        f"""WITH {SHINGLES_SQL},
        sizes AS (SELECT _id, count(*) AS n_sh FROM shv GROUP BY _id),
        common AS (
          SELECT l._id AS a, r._id AS b, count(*) AS common
          FROM shv l JOIN shv r ON l.x = r.x AND l._id < r._id
          GROUP BY 1, 2
        )
        SELECT a, b,
               common::DOUBLE / (sa.n_sh + sb.n_sh - common) AS jaccard
        FROM common
        JOIN sizes sa ON sa._id = a
        JOIN sizes sb ON sb._id = b
        WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common) >= 0.1""",
    )

    # capped variant: document-frequency cap drops boilerplate shingles
    # from the vocabulary before the inverted-index self-join (the 100TB
    # skew guard); Jaccard is exact over the capped vocabulary
    NGRAM_MAX_DF = 20

    def _jaccard_capped(spark, sf):
        from .operators.dedup import ngram_jaccard_pairs

        return ngram_jaccard_pairs(
            _docs(spark, sf), threshold=0.1, max_df=NGRAM_MAX_DF
        )

    q(
        "ngram_jaccard_capped",
        _jaccard_capped,
        f"""WITH {SHINGLES_SQL},
        keepx AS (SELECT x FROM shv GROUP BY x HAVING count(*) <= {NGRAM_MAX_DF}),
        capped AS (SELECT s._id, s.x FROM shv s JOIN keepx k ON k.x = s.x),
        sizes AS (SELECT _id, count(*) AS n_sh FROM capped GROUP BY _id),
        common AS (
          SELECT l._id AS a, r._id AS b, count(*) AS common
          FROM capped l JOIN capped r ON l.x = r.x AND l._id < r._id
          GROUP BY 1, 2
        )
        SELECT a, b,
               common::DOUBLE / (sa.n_sh + sb.n_sh - common) AS jaccard
        FROM common
        JOIN sizes sa ON sa._id = a
        JOIN sizes sb ON sb._id = b
        WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common) >= 0.1""",
    )

    # ---------------- dedup end-to-end: pairs -> clusters -> keep-one -------
    # MinHash near-dup pairs form a similarity graph; CC gives the
    # transitive closure; cluster_id = min doc id, which is also the kept
    # representative. The oracle reproduces the banding semantics exactly
    # (a pair collides iff some band's components are all equal — at
    # oracle scale an all-pairs join with the band disjunction is
    # affordable; the Spark side never materializes non-colliding pairs),
    # then closes it with the recursive CTE used by cc_labels.
    DUP_BANDS = 4  # of MINHASH_PERMS=8 -> 2 rows/band
    DUP_THRESHOLD = 0.5
    rows_per_band = MINHASH_PERMS // DUP_BANDS
    band_disj = " OR ".join(
        "("
        + " AND ".join(
            f"l.h{b * rows_per_band + r} = r.h{b * rows_per_band + r}"
            for r in range(rows_per_band)
        )
        + ")"
        for b in range(DUP_BANDS)
    )
    est_sql = (
        "("
        + " + ".join(f"(l.h{i} = r.h{i})::INT" for i in range(MINHASH_PERMS))
        + f")::DOUBLE / {MINHASH_PERMS}"
    )

    def _dup_clusters(spark, sf):
        from .operators.dedup import dedup_clusters

        return dedup_clusters(
            spark,
            _docs(spark, sf),
            num_perm=MINHASH_PERMS,
            num_bands=DUP_BANDS,
            threshold=DUP_THRESHOLD,
        )

    q(
        "dup_clusters",
        _dup_clusters,
        f"""WITH RECURSIVE {SHINGLES_SQL},
        sig AS (SELECT _id AS doc_id, {min_aggs_sql} FROM shv GROUP BY _id),
        pairs AS (
          SELECT l.doc_id AS a, r.doc_id AS b
          FROM sig l JOIN sig r ON l.doc_id < r.doc_id
          WHERE ({band_disj}) AND {est_sql} >= {DUP_THRESHOLD}
        ),
        dsym AS (SELECT a AS src, b AS dst FROM pairs
                 UNION SELECT b, a FROM pairs),
        verts AS (SELECT doc_id AS v FROM documents),
        reach(v, l) AS (
          SELECT v, v FROM verts
          UNION
          SELECT s.dst, r.l FROM reach r JOIN dsym s ON s.src = r.v
        ),
        cc AS (SELECT v AS vertex, min(l) AS label FROM reach GROUP BY v)
        SELECT vertex AS doc_id, label AS cluster_id,
               (vertex = label) AS is_canonical
        FROM cc""",
    )

    # ---------------- similarity search -------------------------------------
    qids = ", ".join(str(x) for x in KNN_QUERY_IDS)
    q(
        "knn_top5",
        lambda spark, sf: knn_bruteforce(
            spark.read.parquet(f"{sf}/embeddings.parquet"), KNN_QUERY_IDS, k=5
        ).select("query_id", "neighbor_id", "rank"),
        f"""WITH q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id IN ({qids})
        ),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cosine
          FROM embeddings e, q WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= 5""",
    )
    q(
        "embedding_stats",
        lambda spark, sf: spark.read.parquet(f"{sf}/embeddings.parquet")
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.min(F.size("embedding")).alias("dim"),
        ),
        """SELECT label, count(*) AS n, min(len(embedding)) AS dim
        FROM embeddings GROUP BY label""",
    )

    # ---------------- multimodal plumbing -----------------------------------
    def _media(spark, sf):
        from .operators.multimodal import extract_features

        media = _docs(spark, sf).select(
            F.col("doc_id").alias("media_id"),
            F.lit("text-blob").alias("kind"),
            F.encode("text", "UTF-8").alias("payload"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        )
        return extract_features(media).select("media_id", "n_bytes")

    q(
        "media_features",
        _media,
        """SELECT doc_id AS media_id,
               octet_length(encode(text)) AS n_bytes
        FROM documents""",
    )

    # Real PPM/WAV decode under oracle (round 3): the Spark side runs the
    # actual decoders over a deterministic generated media table; the
    # DuckDB side re-derives every value from the same payload BLOBs —
    # image dims parsed out of the escaped P6 header, audio frame count
    # from the RIFF data-chunk length (stdlib-wave PCM header = 44 bytes).
    # A broken decode_ppm/decode_wav cannot pass this entry.
    def _media_decode(spark, sf):
        from .operators.multimodal import decode_media, gen_media

        path = _media_oracle_path()
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            gen_media(spark, MEDIA_ORACLE_N, seed=MEDIA_ORACLE_SEED).write.mode(
                "overwrite"
            ).parquet(path)
        return decode_media(spark.read.parquet(path))

    # Image dims: PPM rows re-parsed straight from the payload blob (P6
    # header regexp over DuckDB's escaped-VARCHAR form); PNG and JPEG
    # rows checked against the generator's independent width/height
    # metadata columns (IHDR/SOF0 dims are big-endian raw bytes — not
    # regexp-able — but a broken decode_png/decode_jpeg still mismatches
    # the metadata: the JPEG decoder must crop the 8x8 block padding back
    # to the true SOF0 dims to pass).
    _hdr = r"'^P6\\x0A(\d+) (\d+)\\x0A255\\x0A'"
    _is_ppm = "payload::VARCHAR LIKE 'P6%'"
    q(
        "media_decode",
        _media_decode,
        f"""SELECT media_id, kind, octet_length(payload)::INT AS n_bytes,
               CASE WHEN kind = 'image' AND {_is_ppm}
                    THEN regexp_extract(payload::VARCHAR, {_hdr}, 1)::INT
                    WHEN kind = 'image' THEN width
               END AS dec_width,
               CASE WHEN kind = 'image' AND {_is_ppm}
                    THEN regexp_extract(payload::VARCHAR, {_hdr}, 2)::INT
                    WHEN kind = 'image' THEN height
               END AS dec_height,
               CASE WHEN kind = 'audio' THEN sample_rate END AS dec_sample_rate,
               CASE WHEN kind = 'audio'
                    THEN ((octet_length(payload) - 44) // 2)::INT
               END AS dec_n_samples
        FROM read_parquet('{_media_oracle_path()}/*.parquet')
        WHERE kind IN ('image', 'audio')""",
    )

    # MP3/MP4 container metadata (round 5): the Spark side parses frame
    # headers / ISO-BMFF boxes straight from the payload BLOBs
    # (operators/mediameta.py); the oracle recomputes every value from
    # the generator's independent metadata columns + octet_length:
    # MPEG-1 L3 @32kHz has exactly 36 ms/frame, so frames =
    # duration_ms/36 and kbps = bytes-per-frame / 4.5; MP4 rows use
    # timescale 1000 (duration == ms) and tracks = 1 + media_id % 2 by
    # construction. A parser off by one frame or reading the wrong mvhd
    # field cannot pass.
    def _media_av(spark, sf):
        from .operators.mediameta import gen_media_av, media_container_meta

        path = _media_av_path()
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            gen_media_av(spark, MEDIA_ORACLE_N, seed=MEDIA_ORACLE_SEED).write.mode(
                "overwrite"
            ).parquet(path)
        return media_container_meta(spark.read.parquet(path))

    q(
        "media_av_meta",
        _media_av,
        f"""SELECT media_id, kind,
               CASE WHEN kind = 'audio' THEN 'mp3' ELSE 'mp4' END AS container,
               duration_ms::BIGINT AS duration_ms,
               CASE WHEN kind = 'audio' THEN sample_rate END::INT AS sample_rate,
               CASE WHEN kind = 'audio'
                    THEN (octet_length(payload) // (duration_ms // 36)) * 2 // 9
               END::INT AS bitrate_kbps,
               CASE WHEN kind = 'audio' THEN duration_ms // 36 END::INT AS frames,
               CASE WHEN kind = 'video' THEN 1 + media_id % 2 END::INT AS tracks,
               CASE WHEN kind = 'video' THEN 'isom' END AS major_brand
        FROM read_parquet('{_media_av_path()}/*.parquet')""",
    )

    # ---------------- window functions over events ---------------------------
    def _running(spark, sf):
        from pyspark.sql import Window

        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return ev.select(
            "event_id",
            "user_id",
            F.row_number().over(w).alias("rn"),
            F.sum("value").over(w).alias("running_value"),
        )

    q(
        "events_running_value",
        _running,
        """SELECT event_id, user_id,
               row_number() OVER w AS rn,
               sum(value) OVER w AS running_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    )

    def _sessions(spark, sf):
        from pyspark.sql import Window

        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        # timestamp_diff on the NTZ values directly: unix_timestamp(cast)
        # was session-timezone-dependent (the driver builds its own
        # session; UTC is not guaranteed there). Truncate to whole seconds
        # first: DuckDB's date_diff('second') counts second-BOUNDARY
        # crossings, Spark's timestamp_diff truncates the exact
        # microsecond difference — they disagree on sub-second tails.
        sec = F.date_trunc("second", F.col("ts"))
        gap = F.timestamp_diff("SECOND", F.lag(sec).over(w), sec)
        marked = ev.select(
            "user_id",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("new_session"),
        )
        return marked.groupBy("user_id").agg(
            F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events")
        )

    q(
        "events_sessions",
        _sessions,
        """WITH g AS (
          SELECT user_id,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           IS NULL
                       OR date_diff('second',
                            lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                            ts) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events
        )
        SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
               count(*) AS n_events
        FROM g GROUP BY user_id""",
    )

    def _top_events(spark, sf):
        from .operators.skew import salted_topk_per_key

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", "event_id", "value"
        )
        return salted_topk_per_key(
            ev, "user_id", "value", k=3, tiebreak_col="event_id"
        ).select("user_id", "event_id")

    q(
        "top_events_per_user",
        _top_events,
        """SELECT user_id, event_id FROM (
          SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, event_id ASC) AS rn
          FROM events
        ) WHERE rn <= 3""",
    )

    # ---------------- set operations + OLAP grouping sets -------------------
    # EXCEPT: vertices with out-links but no in-links on the directed graph
    def _no_inlink(spark, sf):
        raw = raw_edges(spark, sf)
        # subtract = SET except (SQL EXCEPT semantics); exceptAll would be
        # the multiset variant and keep srcs merely MORE frequent than
        # their dst occurrences
        return raw.select(F.col("src").alias("vertex")).subtract(
            raw.select(F.col("dst").alias("vertex"))
        )

    q(
        "no_inlink_vertices",
        _no_inlink,
        f"""WITH {RAW_EDGES_SQL}
        SELECT src AS vertex FROM raw
        EXCEPT
        SELECT dst FROM raw""",
    )

    # INTERSECT: users active in both halves of the event timeline
    def _retained_users(spark, sf):
        ev = spark.read.parquet(f"{sf}/events.parquet")
        # midpoint via pure NTZ arithmetic (timestamp_diff/add) — no
        # unix_timestamp, which would depend on the driver's session TZ.
        # min/max truncate to whole seconds BEFORE the diff: DuckDB's
        # date_diff counts second-boundary crossings while Spark's
        # timestamp_diff truncates the exact microsecond difference, and
        # they disagree by 1s whenever frac(min) > frac(max) — same
        # cross-engine hazard fixed in events_sessions
        mid = ev.agg(
            F.timestamp_add(
                "SECOND",
                (
                    F.timestamp_diff(
                        "SECOND",
                        F.date_trunc("second", F.min("ts")),
                        F.date_trunc("second", F.max("ts")),
                    )
                    / F.lit(2)
                )
                .cast("long"),
                F.min("ts"),
            ).alias("m")
        )
        first = ev.join(F.broadcast(mid)).filter(F.col("ts") < F.col("m")).select("user_id")
        second = ev.join(F.broadcast(mid)).filter(F.col("ts") >= F.col("m")).select("user_id")
        return first.intersect(second)

    q(
        "retained_users",
        _retained_users,
        """WITH m AS (
          SELECT min(ts) + date_diff('second', min(ts), max(ts)) // 2
                   * INTERVAL 1 SECOND AS m
          FROM events
        )
        SELECT DISTINCT user_id FROM events, m WHERE ts < m.m
        INTERSECT
        SELECT DISTINCT user_id FROM events, m WHERE ts >= m.m""",
    )

    # ROLLUP grouping sets over the events cube
    q(
        "events_rollup",
        lambda spark, sf: spark.read.parquet(f"{sf}/events.parquet")
        .rollup("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("total_value"),
        ),
        """SELECT event_type, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY ROLLUP(event_type)""",
    )

    # exact interpolated percentiles of the degree distribution (small-int
    # inputs + quarter fractions are exactly representable, so Spark's
    # (1-g)*lo + g*hi and DuckDB's lo + g*(hi-lo) agree bitwise)
    q(
        "degree_percentiles",
        lambda spark, sf: degrees(symmetrize(raw_edges(spark, sf))).agg(
            F.percentile("degree", 0.25).alias("p25"),
            F.percentile("degree", 0.5).alias("p50"),
            F.percentile("degree", 0.75).alias("p75"),
            F.max("degree").alias("max_degree"),
        ),
        f"""WITH {SYM_SQL},
        deg AS (SELECT src, count(*) AS degree FROM sym GROUP BY src)
        SELECT quantile_cont(degree, 0.25) AS p25,
               quantile_cont(degree, 0.5) AS p50,
               quantile_cont(degree, 0.75) AS p75,
               max(degree) AS max_degree
        FROM deg""",
    )

    # JSON scalar functions over the props column (semi-structured path)
    q(
        "events_json_props",
        lambda spark, sf: spark.read.parquet(f"{sf}/events.parquet")
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count("*").alias("n"),
        ),
        """SELECT event_type,
               CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
               MAX(CAST(props->>'k' AS BIGINT)) AS max_k,
               count(*) AS n
        FROM events GROUP BY event_type""",
    )

    # ---------------- events / OLAP ----------------------------------------
    q(
        "events_hourly",
        lambda spark, sf: batch_event_counts(
            spark.read.parquet(f"{sf}/events.parquet"), window="1 hour"
        ).select(
            F.date_format("window_start", "yyyy-MM-dd HH").alias("hour"),
            "event_type",
            "n_events",
        ),
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
               event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2""",
    )
    q(
        "lineitem_pricing",
        lambda spark, sf: spark.read.parquet(f"{sf}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(20,4)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(20,4)"))
            .cast("double")
            .alias("sum_base_price"),
            F.count("*").alias("count_order"),
        ),
        """SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
                 AS sum_base_price,
               count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    )

    # ---------------- multi-table joins (star-schema, broadcast dims) -------
    # Fixed-size dimensions (region 5 rows, nation 25) are broadcast
    # explicitly; customer GROWS with SF (150k rows per SF unit), so the
    # customer-derived dim is left to the planner — AQE broadcasts it at
    # these SFs and would rightly shuffle-join it at warehouse scale,
    # where a forced F.broadcast would build a fact-sized hashed relation
    # on the driver. Money sums go through DECIMAL so both engines sum
    # exactly.
    def _rev_nation(spark, sf):
        customer = spark.read.parquet(f"{sf}/customer.parquet")
        orders = spark.read.parquet(f"{sf}/orders.parquet")
        lineitem = spark.read.parquet(f"{sf}/lineitem.parquet")
        nation = spark.read.parquet(f"{sf}/nation.parquet")
        region = spark.read.parquet(f"{sf}/region.parquet")
        dim = (
            customer.join(
                F.broadcast(nation),
                customer["c_nationkey"] == nation["n_nationkey"],
            )
            .join(
                F.broadcast(region.filter(F.col("r_name") == "ASIA")),
                nation["n_regionkey"] == region["r_regionkey"],
            )
            .select("c_custkey", "n_name")
        )
        ord_97 = orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        ).select("o_orderkey", "o_custkey")
        return (
            lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
            .join(ord_97, lineitem["l_orderkey"] == ord_97["o_orderkey"])
            .join(dim, ord_97["o_custkey"] == dim["c_custkey"])
            .groupBy("n_name")
            .agg(
                F.sum(
                    (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                    .cast("decimal(20,4)")
                )
                .cast("double")
                .alias("revenue"),
                F.count("*").alias("n_items"),
            )
        )

    q(
        "revenue_by_nation",
        _rev_nation,
        """SELECT n_name,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(20,4))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation   ON n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = n_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name""",
    )

    # Q4-style: orders with at least one line shipped after the order
    # date window start — a semi-join (EXISTS) against the fact table
    def _late_priority(spark, sf):
        orders = spark.read.parquet(f"{sf}/orders.parquet")
        lineitem = spark.read.parquet(f"{sf}/lineitem.parquet")
        ord_97 = orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp_ntz"))
        )
        late = ord_97.join(
            lineitem,
            (lineitem["l_orderkey"] == ord_97["o_orderkey"])
            & (lineitem["l_shipdate"] > ord_97["o_orderdate"]),
            "left_semi",
        )
        return late.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders")
        )

    q(
        "order_priority_late_ship",
        _late_priority,
        """SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-07-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority""",
    )

    def _brand_revenue(spark, sf):
        part = spark.read.parquet(f"{sf}/part.parquet")
        lineitem = spark.read.parquet(f"{sf}/lineitem.parquet")
        return (
            lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
            .join(
                F.broadcast(part.select("p_partkey", "p_brand")),
                lineitem["l_partkey"] == part["p_partkey"],
            )
            .groupBy("p_brand")
            .agg(
                F.sum(F.col("l_quantity").cast("decimal(20,4)"))
                .cast("double")
                .alias("sum_qty"),
                F.sum(F.col("l_extendedprice").cast("decimal(20,4)"))
                .cast("double")
                .alias("sum_price"),
                F.count("*").alias("n_items"),
            )
        )

    q(
        "brand_revenue",
        _brand_revenue,
        """SELECT p_brand,
               CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price,
               count(*) AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY p_brand""",
    )

    def _supplier_nation(spark, sf):
        supplier = spark.read.parquet(f"{sf}/supplier.parquet")
        nation = spark.read.parquet(f"{sf}/nation.parquet")
        return (
            supplier.join(
                F.broadcast(nation),
                supplier["s_nationkey"] == nation["n_nationkey"],
            )
            .groupBy("n_name")
            .agg(
                F.count("*").alias("n_suppliers"),
                F.sum(F.col("s_acctbal").cast("decimal(20,4)"))
                .cast("double")
                .alias("total_balance"),
            )
        )

    q(
        "supplier_balance_by_nation",
        _supplier_nation,
        """SELECT n_name, count(*) AS n_suppliers,
               CAST(SUM(CAST(s_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS total_balance
        FROM supplier JOIN nation ON n_nationkey = s_nationkey
        GROUP BY n_name""",
    )

    return queries, oracles


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship: CC over the documents link graph with per-doc component
    size — the end-to-end slice of SURVEY.md §7 step 5."""
    labels = cc_two_phase(
        spark, raw_edges(spark, sf_dir), vertices=doc_vertices(spark, sf_dir)
    )[0]
    sizes = component_sizes(labels)
    return (
        labels.join(sizes, "label")
        .select(
            F.col("vertex").alias("doc_id"),
            F.col("label").alias("component"),
            F.col("size").alias("component_size"),
        )
    )
