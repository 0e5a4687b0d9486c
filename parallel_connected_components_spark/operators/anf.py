"""Approximate neighborhood function (ANF / HyperANF family) — the
only feasible route to distance statistics (average distance, effective
diameter, centrality) on a 100 TB link graph, where exact all-pairs BFS
is off the table.

Target-only capability following Palmer/Gibbons/Faloutsos (ANF, KDD'02)
and Boldi/Rosa/Vigna (HyperANF, WWW'11), on the package's standard BSP
skeleton (/root/reference/src/cc_openmp.c:38-142's gather shape with
min() swapped for bitwise OR):

  each vertex carries ``num_registers`` Flajolet–Martin sketches;
  register i starts as 1 << min(tz(h_i(v)), 62) where h_i is the
  portable 60-bit md5 hash (functions/hashing.py — identical in Spark,
  DuckDB and Python) of "<vertex>:<i>" and tz = trailing zeros;

  round t+1:  M_{t+1}(v) = M_t(v) | OR_{u~v} M_t(u)

  After K rounds M_K(v) sketches the K-hop ball around v: the FM
  estimate of |ball_K(v)| is 2^R / 0.77351 with R the index of the
  lowest UNSET bit, averaged over registers. Unions are exact on the
  bitmasks, so sketch merging is associative/commutative/idempotent —
  the whole round is one bit_or aggregation over the neighbors' masks
  OR-merged into the own masks, and re-delivery or re-ordering cannot
  corrupt state.

Everything up to the final floating-point estimate is INTEGER bit math
(shift, or, xor, bit_count), portable bit-for-bit across engines — the
DuckDB twin (entry._anf_sql) unrolls the same recurrence and the
correctness gate hashes the register indexes, not the float estimate.
The lowest-zero-bit index is computed overflow-safely as
``bit_count(m ^ (m + 1)) - 1`` (no unary minus on extreme longs; the
+1 can only overflow if all 63 low bits are set, which needs 63
distinct trailing-zero values in one ball — probability ~2^-600).

Scale: identical per-round plan to CC/PageRank (pinned sorted edges,
one shuffle join, one bit_or aggregation combined before its exchange);
state is num_registers longs per vertex (32 bytes at the default 4),
messages likewise — HyperANF's systolic refinement (send only changed
sketches) corresponds to the frontier optimization and arrives free if
ever needed, since the OR is monotone exactly like CC's min.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.hashing import portable_hash64_col
from ..plans.runner import FixpointRunner, gather
from .graph import pinned, vertex_table, vertices_of


def _reg_cols(k: int) -> list[str]:
    return [f"m{i}" for i in range(k)]


def _init_mask(vertex_col, i: int):
    """1 << min(trailing_zeros(h_i), 62); tz via bit_count((h & -h) - 1)
    (h is a positive 60-bit hash, so -h never overflows)."""
    h = portable_hash64_col(
        F.concat(vertex_col.cast("string"), F.lit(f":{i}"))
    )
    tz = F.bit_count((h.bitwiseAND(-h)) - 1)
    # the python shiftleft wrapper only takes an int shift — go through
    # call_function for a column-valued shift amount
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.least(tz, F.lit(62))
    )


def lowest_zero_bit(mask_col):
    """Index of the lowest unset bit — the FM register value R."""
    return (F.bit_count(mask_col.bitwiseXOR(mask_col + 1)) - 1).cast("long")


def _or_neighbors(e: DataFrame, state: DataFrame, regs: list[str]) -> DataFrame:
    """One sketch round: every vertex ORs its in-neighbors' masks into its
    own. → ``vertex``, the state's other columns, the new masks
    ``regs``, the old masks ``_o<m>`` and ``changed`` (any mask moved). The neighbor masks
    are bit_or-folded over the messages alone (plans/runner.py:gather),
    then merged with the own masks in an exchange-free join-back — with
    AQE off in the loop the checkpointed state keeps its hash(vertex)
    partitioning, so the own rows never cross the exchange."""
    gathered = gather(
        e, state.select("vertex", *regs), *[F.bit_or(m).alias(f"_n{m}") for m in regs]
    )
    rest = [c for c in state.columns if c not in ("vertex", "changed", *regs)]
    merged = (
        state.select("vertex", *rest, *[F.col(m).alias(f"_o{m}") for m in regs])
        .join(gathered, "vertex", "left")
        .select(
            "vertex",
            *rest,
            *[
                F.col(f"_o{m}").bitwiseOR(F.coalesce(F.col(f"_n{m}"), F.lit(0))).alias(m)
                for m in regs
            ],
            *[F.col(f"_o{m}") for m in regs],
        )
    )
    changed = None
    for m in regs:
        c = F.col(m) != F.col(f"_o{m}")
        changed = c if changed is None else (changed | c)
    return merged.withColumn("changed", changed)


def anf(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 4,
    num_registers: int = 4,
    vertices: DataFrame | None = None,
) -> tuple[DataFrame, FixpointRunner]:
    """→ ((vertex long, r0..r{k-1} long), runner): per-vertex FM register
    values after ``rounds`` sketch-propagation rounds over the edge table
    AS GIVEN (pass the symmetrized table for undirected balls). Stops
    early if every sketch is stable (the ball stopped growing — then the
    result equals any larger round count, which is what lets a fixed-K
    SQL twin stay exact). ``vertices`` (optional superset of endpoints)
    adds isolated vertices, whose ball is just themselves."""
    regs = _reg_cols(num_registers)
    e_raw = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    with pinned(spark, e_raw) as (e, n_part), vertex_table(
        vertices, vertices_of(e_raw), n_part
    ) as verts:
        init = verts.select(
            F.col("id").alias("vertex"),
            *[_init_mask(F.col("id"), i).alias(m) for i, m in enumerate(regs)],
        )

        def step(state: DataFrame, it: int) -> DataFrame:
            return _or_neighbors(e, state, regs).select("vertex", *regs, "changed")

        def converged(got: dict, it: int):
            grew = got["changed"] or 0
            extra = {"grew": grew, "neighborhood_function": got["nf"]}
            if it + 1 >= rounds:
                return 0, extra
            return grew, extra

        # the global neighborhood function N(t) = Σ_v |ball_t(v)| rides
        # the same Observation as the changed count (one more aggregate in
        # the materialization job — still zero extra actions per round):
        # per-row FM estimate 2^(mean lowest-zero index) / 0.77351
        mean_r = sum(lowest_zero_bit(F.col(m)) for m in regs) / float(len(regs))
        observe = [
            F.sum(F.col("changed").cast("long")).alias("changed"),
            F.sum(F.pow(F.lit(2.0), mean_r) / F.lit(0.77351)).alias("nf"),
        ]
        runner = FixpointRunner(
            spark, "anf", max_iterations=max(rounds, 1), n_part=n_part
        )
        out = runner.run(init, step, observe, converged)
    final = out.select(
        "vertex", *[lowest_zero_bit(F.col(m)).alias(f"r{i}") for i, m in enumerate(regs)]
    )
    return final, runner


def neighborhood_estimate(df: DataFrame, num_registers: int = 4) -> DataFrame:
    """Convenience: the float FM estimate 2^(mean R) / 0.77351 per vertex
    (NOT part of the integer correctness surface — engines may differ in
    the last ulp of pow)."""
    mean_r = sum(F.col(f"r{i}") for i in range(num_registers)) / float(num_registers)
    return df.select(
        "vertex", (F.pow(F.lit(2.0), mean_r) / F.lit(0.77351)).alias("ball_estimate")
    )


def effective_diameter(runner: FixpointRunner, ratio: float = 0.9) -> int | None:
    """Boldi/Vigna-style effective diameter from the per-round global
    neighborhood function recorded in the runner's metrics: the smallest
    hop count t whose N(t) reaches ``ratio`` of the final (saturated or
    last-measured) N. 1-based hops; None if no rounds ran. Note the
    estimate inherits FM variance — at the default 4 registers it is a
    coarse-but-monotone curve, good for \"is the diameter ~5 or ~50\"
    decisions (e.g. cc_auto-style algorithm selection), not decimals."""
    nfs = [
        m.extra["neighborhood_function"]
        for m in runner.metrics
        if "neighborhood_function" in m.extra
    ]
    if not nfs:
        return None
    target = ratio * nfs[-1]
    for t, v in enumerate(nfs, start=1):
        if v >= target:
            return t
    return len(nfs)


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 4,
    num_registers: int = 4,
    vertices: DataFrame | None = None,
) -> tuple[DataFrame, FixpointRunner]:
    """ANF-based harmonic centrality (the HyperANF methodology —
    Boldi/Vigna argue harmonic is THE principled centrality for
    disconnected web graphs since unreachable pairs contribute 0, not
    infinity): score(v) ≈ Σ_t Δ|ball_t(v)| / t, with ball sizes from
    the same FM sketches as :func:`anf`.

    Kept EXACTLY reproducible cross-engine by staying integer all the
    way: the per-round ball size is est_t(v) = Σ_i 2^{R_i} (register
    estimates as integer shifts, no 0.77351 correction), and the output
    is  score = Σ_{t=1..rounds} (L/t) · (est_t − est_{t−1})  with
    L = lcm(1..rounds) clearing the denominators — a positive integer
    scaling of the harmonic estimator, rank-equivalent to it. The
    DuckDB twin (entry._harmonic_sql) reproduces every score
    bit-for-bit. FM variance at the default 4 registers makes this a
    RANKING signal (hubs vs periphery), not a count — documented, same
    honesty note as effective_diameter.

    State carries (masks, est, score); the round update is the anf
    bit_or gather, with est and score updated in the same join-back.
    Early stop when sketches saturate is exact:
    stable masks ⇒ Δest = 0 ⇒ later terms vanish, matching a fixed-K
    unrolled twin."""
    from math import lcm

    regs = _reg_cols(num_registers)
    big_l = lcm(*range(1, rounds + 1)) if rounds >= 1 else 1
    e_raw = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))

    def est_of(cols) -> "F.Column":
        total = None
        for m in cols:
            p = F.call_function(
                "shiftleft", F.lit(1).cast("long"), lowest_zero_bit(F.col(m))
            )
            total = p if total is None else total + p
        return total

    with pinned(spark, e_raw) as (e, n_part), vertex_table(
        vertices, vertices_of(e_raw), n_part
    ) as verts:
        init = verts.select(
            F.col("id").alias("vertex"),
            *[_init_mask(F.col("id"), i).alias(m) for i, m in enumerate(regs)],
        )
        init = init.select(
            "vertex", *regs, est_of(regs).alias("est"), F.lit(0).cast("long").alias("score")
        )

        def step(state: DataFrame, it: int) -> DataFrame:
            coeff = big_l // (it + 1)
            merged = _or_neighbors(e, state, regs)
            new_est = est_of(regs)
            # early stop watches the MASKS (``changed``), not est: a mask
            # can gain a high bit without moving its lowest zero (est
            # unchanged) yet still affect neighbors' est in later rounds —
            # stopping on Δest==0 would diverge from the fixed-K unrolled twin
            gain = F.lit(coeff).cast("long") * (new_est - F.col("est"))
            return merged.select(
                "vertex",
                *regs,
                new_est.alias("est"),
                (F.col("score") + gain).alias("score"),
                "changed",
            )

        def converged(got: dict, it: int):
            grew = got["changed"] or 0
            if it + 1 >= rounds:
                return 0, {"grew": grew}
            return grew, {"grew": grew}

        runner = FixpointRunner(
            spark, "harmonic", max_iterations=max(rounds, 1), n_part=n_part
        )
        out = runner.run(
            init, step, [F.sum(F.col("changed").cast("long")).alias("changed")], converged
        )
    return out.select("vertex", "score"), runner


def anf_python_oracle(
    edge_list, rounds: int = 4, num_registers: int = 4, vertex_ids=None
) -> dict[int, tuple[int, ...]]:
    """Independent simulation with the same portable hash — exact integer
    differential anchor. Test-scale only."""
    from ..functions.hashing import portable_hash64_py

    verts = set(int(v) for v in (vertex_ids or []))
    adj: dict[int, set[int]] = {}
    for u, v in edge_list:
        u, v = int(u), int(v)
        verts.add(u)
        verts.add(v)
        if u != v:
            adj.setdefault(u, set()).add(v)

    def init_mask(v: int, i: int) -> int:
        h = portable_hash64_py(f"{v}:{i}")
        tz = (h & -h).bit_length() - 1 if h else 62
        return 1 << min(tz, 62)

    masks = {v: [init_mask(v, i) for i in range(num_registers)] for v in verts}
    for _ in range(rounds):
        nxt = {v: list(ms) for v, ms in masks.items()}
        for u, outs in adj.items():
            for v in outs:
                for i in range(num_registers):
                    nxt[v][i] |= masks[u][i]
        if nxt == masks:
            break
        masks = nxt

    def r(m: int) -> int:
        i = 0
        while m & (1 << i):
            i += 1
        return i

    return {v: tuple(r(m) for m in ms) for v, ms in masks.items()}


def harmonic_python_oracle(
    edge_list, rounds: int = 4, num_registers: int = 4, vertex_ids=None
) -> dict[int, int]:
    """Independent integer simulation of :func:`harmonic_centrality`
    (same portable hash, same L-scaled telescoping sum). Test-scale."""
    from math import lcm

    from ..functions.hashing import portable_hash64_py

    verts = set(int(v) for v in (vertex_ids or []))
    adj: dict[int, set[int]] = {}
    for u, v in edge_list:
        u, v = int(u), int(v)
        verts.add(u)
        verts.add(v)
        if u != v:
            adj.setdefault(u, set()).add(v)

    def init_mask(v: int, i: int) -> int:
        h = portable_hash64_py(f"{v}:{i}")
        tz = (h & -h).bit_length() - 1 if h else 62
        return 1 << min(tz, 62)

    def est(ms) -> int:
        total = 0
        for m in ms:
            i = 0
            while m & (1 << i):
                i += 1
            total += 1 << i
        return total

    big_l = lcm(*range(1, rounds + 1)) if rounds >= 1 else 1
    masks = {v: [init_mask(v, i) for i in range(num_registers)] for v in verts}
    prev_est = {v: est(ms) for v, ms in masks.items()}
    score = {v: 0 for v in verts}
    for t in range(1, rounds + 1):
        nxt = {v: list(ms) for v, ms in masks.items()}
        for u, outs in adj.items():
            for v in outs:
                for i in range(num_registers):
                    nxt[v][i] |= masks[u][i]
        coeff = big_l // t
        for v in verts:
            e = est(nxt[v])
            score[v] += coeff * (e - prev_est[v])
            prev_est[v] = e
        stable = nxt == masks
        masks = nxt
        if stable:
            break
    return score
