"""Label propagation family: lpa / nsdlpa / weighted (hlpa) votes.

Reference parity (semantics, not execution): the reference's LPA is
*asynchronous* — shuffled vertex order, in-place moves, random
tie-breaks (src/label_propagation.jl:98-116). Bit-exact replication
under bulk-synchronous execution is impossible in general (SURVEY.md
§7.7); this engine implements the documented Spark-native semantics:

 - gather = one join (symmetrized edges ⋈ labels on dst) + one
   groupBy(listener, label) weighted count — the whole frontier in one
   superstep (src/label_propagation.jl:17-29 for all vertices at once);
 - argmax with deterministic tie-breaking
   (count desc, sticky-to-current, smallest label) — the deterministic
   counterpart of the reference's shuffled strictly-greater scan
   (src/label_propagation.jl:31-52) and the multilevel variant's
   sticky-current rule (src/multilevel_label_propagation.jl:239-266);
 - *semi-synchronous* update schedule, the only one label_propagation
   runs: each superstep only vertices whose parity (xxhash64(id) mod 2,
   or the caller's ``parity_expr``) matches the superstep parity may
   move. Pure BSP LPA oscillates on symmetric structures (a single
   edge flips labels forever); parity alternation is the standard
   deterministic fix and converges like async LPA. lpa_superstep on
   its own keeps the evaluate-everyone form (the driver's ``lpa_step``
   oracle).

Convergence: a run stops after two consecutive zero-mover supersteps —
one quiet superstep per parity over the same labeling is a true
fixpoint (a lone quiet superstep only certifies one parity).

Execution discipline (plans/iterstate.py): per superstep exactly ONE
action — the state write with the mover counts observed on the same
job. The state is (id, lbl, changed, prevch, prev, deg); each superstep
plan yields (id, want_lbl) for the listeners it evaluated and
_next_state turns that into the next state. Tricks that keep the plan
narrow:

 - self rows: the listener's own label enters the gather as a
   zero-weight row flagged cur=true, so (a) every vertex is covered
   without a left-outer join and (b) the sticky tie-break needs no
   extra join against current labels;
 - active-parity listener filter: only half the vertices may move in
   a given superstep, so every plan keeps only active-parity
   listeners' messages — the vote multiset of an inactive vertex is
   never consulted this superstep, and its row passes through
   unchanged via the (already-present) state join. This halves every
   full gather's exchange volume and aggregation cardinality,
   including the identity-init first superstep where the
   (listener, label) group count peaks at ~2m. Exact: movers are
   decided per-listener from ALL its speakers' labels, which the
   filter does not touch;
 - the reference's active-node frontier (src/label_propagation.jl:
   100-113) becomes a broadcast semi-join filter: once the observed
   mover-degree bound is small, gather only listeners whose argmax
   inputs could have changed — exact under sticky tie-breaking
   because an unchanged vote multiset cannot flip a sticky argmax.
   The stale set is the movers of the last TWO supersteps (state
   column ``prevch``) and their neighbors: a vertex inactive at
   superstep t re-evaluates at t+1, so it missed the moves of both;
 - labels round-trip through parquet/bucketed tables (lineage
   truncation + resume snapshots; see iterstate docstring for the
   measured numbers).

The module constants below choose among plans from observed counts;
none of them changes the answer (test_lpa_strategy_invariance forces
each plan and pins identical mover histories and labels).
"""

from __future__ import annotations

import math
import os
import time as _time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.graph import csr_adjacency, vertices_of, with_weight
from ..plans.iterstate import StateLoop, no_aqe, shuffle_parts, state_codec
from .triangles import edge_common_neighbors

# Broadcast frontier: gather only the stale listeners once Σ(deg+1)
# over the last two supersteps' movers is at most FRONTIER_MAX.
FRONTIER = True
FRONTIER_MAX = 200_000
# Delta counts (unit-vote CSR tables mode): engage when Σ(deg+1) over
# the movers plus the mover count is at most DELTA_MSGS_FRAC·2m; above
# DELTA_BCAST_MAX movers the update takes a shuffle join, not a
# broadcast.
DELTA = True
DELTA_MSGS_FRAC = 0.25
DELTA_BCAST_MAX = 2_000_000
# Peak-diversity gather widening over the first GATHER_WIDEN_UNTIL
# supersteps, once a gather task would aggregate more than
# GATHER_GROUP_BUDGET messages (see label_propagation).
GATHER_GROUP_BUDGET = 1_500_000
GATHER_WIDEN_UNTIL = 3


@dataclass
class LPAResult:
    labels: DataFrame  # (id, comm)
    iterations: int
    changed_history: list = field(default_factory=list)
    iter_seconds: list = field(default_factory=list)
    # first superstep (1-based) that ran in incremental (delta-counts)
    # mode; None = the run never engaged it
    delta_from: int | None = None
    # True when superstep 1 ran the identity-init min-neighbor plan
    # (valid only when the sym CSR observed zero duplicate pairs)
    first_superstep_fast: bool = False


def _struct_argmax(counts: DataFrame, sticky: bool) -> DataFrame:
    """Argmax over a (id, lbl, cnt, cur) count frame as max-of-struct
    (lexicographic: count, sticky flag, smallest-label).

    The struct agg buffer is not fixed-width, so this lands in a
    SortAggregate — but over the ALREADY-AGGREGATED (id,lbl) groups,
    partition-local, inside the same post-exchange stage (no second
    shuffle; the sort is O(groups) per partition and spillable).
    A packed-64-bit-key variant (cnt·2^32 + sticky·2^31 + (2^31−1−lbl),
    order-isomorphic for 31-bit ids) that turns this into a fixed-width
    HashAggregate was A/B'd at the 163M-arc bench corpus and REJECTED:
    identical mover histories, but the extra per-task hash table on top
    of the count agg's (both live in the same post-exchange stage)
    pushed full-gather supersteps from 7.7-14.6s to 33-49s under the
    24g bench heap — the sort is the memory-lean choice exactly where
    cardinality peaks."""
    return counts.groupBy("id").agg(
        F.max(
            F.struct(
                F.col("cnt"),
                (F.col("cur").cast("int") if sticky else F.lit(0)).alias("t1"),
                (-F.col("lbl")).alias("t2"),
                F.col("lbl").alias("lbl"),
            )
        ).alias("_want"),
        F.max(
            F.struct(F.col("cur").cast("int").alias("c"), F.col("lbl").alias("lbl"))
        ).alias("_cur"),
    ).select(
        "id",
        F.col("_want.lbl").alias("want_lbl"),
        F.col("_cur.lbl").alias("cur_lbl"),
    )


def lpa_superstep(
    sym_edges: DataFrame,
    labels: DataFrame,
    sticky: bool = True,
    active: DataFrame | None = None,
    listener_pred=None,
    gather_parts: int | None = None,
) -> DataFrame:
    """One gather/argmax superstep. ``sym_edges`` is (src, dst, vote),
    or bare (src, dst) for the unit-vote fast path — then votes are
    row counts and the gather streams 16B int pairs instead of 24B
    (the same bytes-per-message cut that fixed PageRank's scaling
    efficiency). ``labels`` is (id, lbl); returns (id, lbl, changed):
    every evaluated listener takes its argmax label.

    ``listener_pred`` (a Column predicate over ``id``) restricts the
    gather AND the output to matching listeners; ``active`` (an (id)
    frame, broadcast) restricts the gathered messages, so a listener
    outside it keeps its label. label_propagation passes the
    active-parity test and its frontier here, so a full gather
    shuffles only the messages whose argmax can act this superstep;
    the caller passes the other rows through unchanged. Default None
    keeps the evaluate-everyone contract (the driver's ``lpa_step``
    oracle runs this form).

    Kept as a standalone, SQL-checkable unit (the driver oracle runs
    the equivalent ANSI SQL); label_propagation() below fuses the same
    plan into its write job."""
    state = labels.select("id", "lbl")
    unit = "vote" not in sym_edges.columns
    csr = "srcs" in sym_edges.columns
    if active is not None and not csr:
        # listener-keyed rows: drop inactive listeners before the join
        sym_edges = sym_edges.join(
            F.broadcast(active.withColumnRenamed("id", "src")),
            "src", "left_semi",
        )

    def _to_id(df):
        # ONE exchange per superstep: hash-partitioning by id alone
        # satisfies the clustering needs of BOTH the (id,lbl) count
        # agg and the (id) argmax agg. ``gather_parts`` overrides the
        # session partition count for THIS exchange only — the caller
        # widens it at peak label diversity so each task's aggregation
        # state stays inside execution memory (see label_propagation).
        return (df.repartition(gather_parts, "id") if gather_parts
                else df.repartition("id"))

    if unit:
        if csr:
            # CSR gather: one row per speaker with its listener array
            # (dst, srcs) — half the bytes and n joins instead of 2m
            # (same fast path as PageRank's uniform arcs)
            gather = sym_edges.join(
                state.withColumnRenamed("id", "dst"), "dst"
            ).select(
                F.explode("srcs").alias("id"), "lbl", F.lit(False).alias("cur")
            )
            if listener_pred is not None:
                gather = gather.filter(listener_pred)
            if active is not None:
                # CSR rows can't be pre-filtered by listener; the
                # broadcast filter applies post-explode
                gather = gather.join(
                    F.broadcast(active), "id", "left_semi"
                )
        else:
            gather = sym_edges.join(
                state.withColumnRenamed("id", "dst"), "dst"
            ).select(F.col("src").alias("id"), "lbl", F.lit(False).alias("cur"))
            if listener_pred is not None:
                gather = gather.filter(listener_pred)
        self_rows = state.select("id", "lbl", F.lit(True).alias("cur"))
        if listener_pred is not None:
            self_rows = self_rows.filter(listener_pred)
        # ONE exchange per superstep: hash-partitioning by id alone
        # satisfies the clustering needs of BOTH the (id,lbl) count agg
        # and the (id) argmax agg, so neither inserts its own shuffle
        # (vs. two full-width exchanges with the default plan; map-side
        # partial agg is no loss — early supersteps have near-distinct
        # (id,lbl) pairs, late ones are frontier-filtered)
        counts = (
            _to_id(gather.unionByName(self_rows))
            .groupBy("id", "lbl")
            .agg(
                # the self row covers every vertex + flags cur, but is
                # not a vote: subtract it from its own label's count
                (F.count(F.lit(1)) - F.max(F.col("cur").cast("long"))).alias("cnt"),
                F.max("cur").alias("cur"),
            )
        )
    else:
        gather = sym_edges.join(
            state.withColumnRenamed("id", "dst"), "dst"
        ).select(
            F.col("src").alias("id"), "lbl", "vote", F.lit(False).alias("cur")
        )
        if listener_pred is not None:
            gather = gather.filter(listener_pred)
        self_rows = state.select(
            "id", "lbl", F.lit(0.0).alias("vote"), F.lit(True).alias("cur")
        )
        if listener_pred is not None:
            self_rows = self_rows.filter(listener_pred)
        counts = (
            _to_id(gather.unionByName(self_rows))
            .groupBy("id", "lbl")
            .agg(F.sum("vote").alias("cnt"), F.max("cur").alias("cur"))
        )
    # argmax (see _struct_argmax for the physical-plan rationale and
    # the rejected packed-key alternative)
    best = _struct_argmax(counts, sticky)
    return best.select(
        "id",
        F.col("want_lbl").alias("lbl"),
        (F.col("want_lbl") != F.col("cur_lbl")).alias("changed"),
    )


def _vote_edges(edges: DataFrame, weighted: bool, cn_bonus: bool) -> DataFrame:
    """Symmetrized edge view with a ``vote`` column — or bare
    (src, dst) pairs in the default unit-vote case (votes become row
    counts in lpa_superstep; 33% fewer bytes per gathered message)."""
    if cn_bonus:
        e = edge_common_neighbors(edges)  # (src, dst, weight, cn)
        e = e.select("src", "dst", (F.lit(1.0) + F.col("cn")).alias("vote"))
    elif weighted:
        e = with_weight(edges).select("src", "dst", F.col("weight").alias("vote"))
    else:
        e = edges.select("src", "dst")
    rev = e.filter(F.col("src") != F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), *(
            ["vote"] if "vote" in e.columns else []
        )
    )
    return e.unionByName(rev)


def _next_state(state: DataFrame, want: DataFrame) -> DataFrame:
    """Next LPA state from one superstep plan's ``want`` (id, want_lbl),
    which covers only the listeners the plan evaluated: those move to
    ``want_lbl``, every other row passes through unchanged. ``prevch``
    carries the last superstep's movers (the two-superstep frontier)
    and ``prev`` the last label (the delta-counts update)."""
    cur = F.col("cur_lbl")
    new = F.coalesce(F.col("want_lbl"), cur)
    return state.select(
        "id", F.col("lbl").alias("cur_lbl"),
        F.col("changed").alias("pch"), "deg",
    ).join(want, "id", "left").select(
        "id",
        new.alias("lbl"),
        (new != cur).alias("changed"),
        F.col("pch").alias("prevch"),
        cur.alias("prev"),
        "deg",
    )


def label_propagation(
    edges: DataFrame,
    weighted: bool = False,
    cn_bonus: bool = False,
    max_iter: int = 200,
    renumber: bool = True,
    ledger=None,
    mode: str = "dir",
    state_name: str = "lpa_state",
    parity_expr=None,
) -> LPAResult:
    """Run semi-synchronous, sticky LPA from identity labels (or from
    the ledger's newest snapshot) to fixpoint or ``max_iter``.
    ``cn_bonus=True`` gives nsdlpa (src/label_propagation.jl:77-96);
    ``weighted=True`` uses edge weights as votes (the hlpa/mlpa
    gather, src/hlpa.jl:3-28). ``parity_expr`` (e.g. ``pmod(id, 2)``)
    replaces the structure-blind xxhash64 move gate, which makes the
    whole run SQL-oracle-reproducible (the driver's ``lpa_full`` row).

    Each superstep runs one of four exact plans, picked from observed
    counts:

    - identity-init first superstep (CSR tables mode, duplicate pairs
      ≤ 2% of messages): a min-neighbor aggregation, see below;
    - full gather, parity-filtered, its exchange widened while label
      diversity peaks (GATHER_*);
    - broadcast frontier (FRONTIER_MAX): the full gather restricted to
      the listeners whose vote multiset could have changed;
    - delta counts (DELTA_*, unit-vote CSR tables mode only): a
      bucketed (id, lbl, cnt) neighbor-label count table maintained
      from the movers' adjacency only — per mover v, every listener u
      of v gets cnt(u, old_lbl) −= 1, cnt(u, new_lbl) += 1 — instead
      of re-gathering all 2m messages. Integer counts make it EXACTLY
      equivalent to the full re-aggregation (pytest pins
      label-by-label equality). Cost per superstep drops from O(2m)
      messages to O(Σdeg(movers) + |counts|); the counts table starts
      at ~2m rows and shrinks toward n as labels consolidate, so the
      switch is gated on the observed mover-degree bound. Movers up
      to DELTA_BCAST_MAX are broadcast to the bucketed CSR table (zero
      exchange); above the cap they take one bucketed hash(dst, P)
      shuffle join — the 100×-scale path, where a graph can sustain
      multi-million-mover supersteps for which O(changed_edges) still
      beats O(2m) — and the path only drops back to the full gather on
      a genuine COST regression (counts rebuilt if the gate
      re-engages). A map-typed per-vertex counts column is
      deliberately NOT used: at engage time a 1e7-in-degree web hub
      would hold a 1e7-entry map in one row — the unbounded-row
      failure the CSR chunk cap exists to prevent."""
    spark = edges.sparkSession

    # fixed partition/bucket count across cluster sizes (see pagerank)
    P = int(os.environ.get("SPARK_GRAFT_STATE_PARTS", "0")) or \
        spark.sparkContext.defaultParallelism
    loop = StateLoop(spark, state_name, mode=mode, bucket_key="id",
                     parts=P, ledger=ledger)

    sym_plan = _vote_edges(edges, weighted, cn_bonus)
    unit = "vote" not in sym_plan.columns
    sym_table = None
    # total_msgs = 2m (Σdeg, the delta gate's denominator), read off
    # the symmetrized-view build
    if mode == "tables":
        sym_table = f"{loop.name}_sym"
        loop._drop_table(sym_table)
        if unit:
            # CSR speaker table (dst, srcs): halves gather bytes.
            # Hub rows are chunked at ~64k neighbors (csr_adjacency) so
            # no single row ever holds a web-hub's full in-link list;
            # the gather explodes the arrays, so chunking is invisible
            # to the superstep semantics (lpa_full oracle pins this).
            # The CSR branch already lands on hash(dst, P) via
            # csr_adjacency(parts=P) — repartitioning again would move
            # the full array data through a second exchange.
            sym_plan = csr_adjacency(sym_plan, "dst", "src", "srcs", parts=P)
            msgs = F.sum(F.size("srcs"))
            # exact duplicate-(listener, speaker) count, observed free
            # on the build write: csr_adjacency buckets chunk rows by
            # pmod(xxhash64(src), nchunks), so every duplicate of a
            # listener lands in the SAME chunk row and a per-row
            # array_distinct sees all of them. A small dup mass
            # certifies the identity-init first-superstep plan below.
            dups = F.sum(F.size("srcs") - F.size(F.array_distinct("srcs")))
        else:
            sym_plan = sym_plan.repartition(P, "dst")
            msgs, dups = F.count(F.lit(1)), F.lit(0)
        sym_obs = Observation(f"{loop.name}_sym")
        w = sym_plan.observe(
            sym_obs,
            F.coalesce(msgs, F.lit(0)).alias("msgs"),
            F.coalesce(dups, F.lit(0)).alias("dups"),
        ).write
        if state_codec():
            w = w.option("compression", state_codec())
        w.bucketBy(P, "dst").mode("overwrite").saveAsTable(sym_table)
        total_msgs = int(sym_obs.get["msgs"])
        sym_dups = int(sym_obs.get["dups"])
        sym = spark.table(sym_table)
    else:
        sym = sym_plan.repartition(P, "dst").persist()
        total_msgs = sym.count()  # one row per message
        sym_dups = 0
    csr = "srcs" in sym.columns

    state = None
    if ledger is not None:
        state = loop.resume()
        if state is not None and "prevch" not in state.columns:
            # snapshot from a pre-prevch build: True is the safe value
            # (forces the first post-resume frontiers wide open)
            state = state.withColumn("prevch", F.lit(True))
    start_iter = loop.iteration if state is not None else 0
    if state is None:
        # deg rides in the state so each superstep can OBSERVE
        # sum(deg of movers) — an upper bound on the next active set,
        # gating the frontier broadcast safely even with hub vertices
        if csr:
            # the symmetrized CSR's speaker keys ARE the vertex set and
            # listener degree == speaker degree == sum of array sizes,
            # so the whole state init is ONE n-row agg on the bucketed
            # table (zero exchange)
            degs = sym.groupBy(F.col("dst").alias("id")).agg(
                F.sum(F.size("srcs")).cast("long").alias("deg"))
        else:
            degs = vertices_of(edges).join(
                sym.groupBy(F.col("src").alias("id")).agg(
                    F.count(F.lit(1)).alias("deg")),
                "id", "left")
        state = loop.init(degs.select(
            "id",
            F.col("id").alias("lbl"),
            F.lit(True).alias("changed"),
            F.lit(False).alias("prevch"),
            F.col("id").alias("prev"),
            F.coalesce("deg", F.lit(0)).alias("deg"),
        ))

    # listeners whose parity is ``pexpr == it % 2`` may move at
    # superstep it+1; the default hash parity is structure-blind
    pexpr = parity_expr if parity_expr is not None \
        else F.pmod(F.xxhash64("id"), F.lit(2))
    changed_history: list[int] = []
    iter_secs: list[float] = []
    it = start_iter
    changed_cnt = None              # unknown -> full gather
    prev_changed_cnt = None         # movers one superstep earlier
    frontier_bound = None           # Σ(deg+1) over last superstep's movers
    fbound2_cnt = None              # same over the last TWO supersteps
    delta_ok = DELTA and csr and "prev" in state.columns
    # identity-init first superstep: with identity labels, (listener,
    # label) vote groups are exactly the (listener, speaker) pairs, so
    # the argmax needs no 2m-group count — unique pairs contribute cnt-1
    # candidates (a min aggregation), and the exactly-observed duplicate
    # pairs (sym_dups, from the CSR build) get their true counts from
    # the few rows that contain them. EXACT for any input; engaged only
    # while the dup mass is small (above ~2% the dup rows approach the
    # general gather's cost anyway). Requires a fresh (not resumed)
    # start.
    simple1 = csr and start_iter == 0 and \
        sym_dups <= 0.02 * max(total_msgs, 1)
    used_fast1 = False
    counts = None            # delta mode: materialized (id, lbl, cnt)
    counts_loop = None
    counts_fresh = False     # just (re)built from current labels?
    delta_from = None

    def _gather_parts(it_1based: int) -> int | None:
        # Peak-diversity gather widening: the first few full gathers of
        # an identity-init run aggregate near-distinct (listener, label)
        # groups — at m/P groups per task (half the 2m messages pass the
        # parity filter) the post-exchange aggregation outgrows per-task
        # execution memory and spills (A/B at the 163M-arc bench corpus,
        # 24g heap: superstep 2 median ~45s at P=64 vs ~21s at 128
        # gather partitions; identical mover histories). Widen THAT
        # exchange only, so each task's agg state fits; the argmax
        # output then takes one extra n-row exchange back to the
        # P-bucketed state join, which is two orders of magnitude
        # smaller than the spill it avoids. Later supersteps have
        # collapsed label sets (group count ≪ messages), so widening is
        # capped to the first GATHER_WIDEN_UNTIL supersteps.
        if it_1based > GATHER_WIDEN_UNTIL:
            return None
        per_task = total_msgs // 2 // max(P, 1)
        if per_task <= GATHER_GROUP_BUDGET:
            return None
        return min(P * math.ceil(per_task / GATHER_GROUP_BUDGET), 8 * P)

    # shuffle partitions = bucket count keeps the gather agg and the
    # state join co-partitioned with zero extra exchange (restored via
    # context manager even if a superstep raises)
    with shuffle_parts(spark, P), no_aqe(spark):
        while it < max_iter:
            t_it = _time.time()
            # the active parity: only these listeners may move, so
            # every plan keeps only their messages
            on = pexpr == F.lit(it % 2)
            it += 1

            if counts is not None and \
                    frontier_bound > DELTA_MSGS_FRAC * total_msgs:
                # COST regression, not a mechanism limit: Σdeg(movers)
                # grew past the fraction of 2m where the incremental
                # update is cheaper than one full gather — drop back to
                # the full gather (the gate below rebuilds the counts
                # table if it re-engages). A large mover count ALONE
                # does not abort the path: above DELTA_BCAST_MAX the
                # movers side switches from a broadcast to a bucketed
                # shuffle join (below), so multi-million-mover
                # supersteps — the sustained regime of a 100× graph —
                # stay incremental as long as O(changed_edges) beats
                # O(2m).
                counts = None

            if counts is not None:
                # ---- incremental superstep over the counts table ----
                if delta_from is None:
                    delta_from = it
                if counts_fresh:
                    # the table was built from the CURRENT labels (the
                    # engage-time snapshot already reflects the last
                    # superstep's moves) — applying those movers' deltas
                    # again would double-count them
                    counts_fresh = False
                elif changed_cnt > 0:
                    movers = state.filter("changed").select(
                        F.col("id").alias("dst"),
                        F.col("prev").alias("old_lbl"),
                        F.col("lbl").alias("new_lbl"),
                    )
                    if changed_cnt <= DELTA_BCAST_MAX:
                        # small mover set: zero-exchange broadcast join
                        mside = F.broadcast(movers)
                    else:
                        # burst supersteps: ship the movers through one
                        # hash(dst, P) exchange instead of a driver
                        # broadcast; the CSR side is bucketed on dst so
                        # only the (much smaller) movers side moves, and
                        # a shuffle-hash hint keeps Spark from sorting
                        # the bucketed CSR for a merge join
                        mside = movers.repartition(P, "dst") \
                            .hint("shuffle_hash")
                    upd = (
                        sym.join(mside, "dst")
                        .select(
                            F.explode("srcs").alias("id"),
                            "old_lbl", "new_lbl",
                        )
                        .select(
                            "id",
                            F.explode(F.array(
                                F.struct(
                                    F.col("old_lbl").alias("lbl"),
                                    F.lit(-1).cast("long").alias("cnt"),
                                ),
                                F.struct(
                                    F.col("new_lbl").alias("lbl"),
                                    F.lit(1).cast("long").alias("cnt"),
                                ),
                            )).alias("d"),
                        )
                        .select("id", "d.lbl", "d.cnt")
                    )
                    merged = (
                        counts.select("id", "lbl", "cnt")
                        .unionByName(upd)
                        .repartition(P, "id")
                        .groupBy("id", "lbl")
                        .agg(F.sum("cnt").alias("cnt"))
                        .filter(F.col("cnt") > 0)
                    )
                    counts, _ = counts_loop.step(merged, {})
                # argmax over the maintained counts: both sides bucketed
                # by id, zero exchange; the counts side is
                # parity-filtered up front, exactly like the filtered
                # full gather
                want = counts.select("id", "lbl", "cnt").filter(on).join(
                    state.select("id", F.col("lbl").alias("cur_lbl")), "id"
                ).groupBy("id").agg(
                    F.max(F.struct(
                        F.col("cnt"),
                        (F.col("lbl") == F.col("cur_lbl")).cast("int")
                        .alias("t1"),
                        (-F.col("lbl")).alias("t2"),
                        F.col("lbl").alias("lbl"),
                    )).alias("_want")
                ).select("id", F.col("_want.lbl").alias("want_lbl"))
            elif it == 1 and simple1:
                # ---- identity-init first superstep, min-neighbor plan ----
                # The general plan's (listener, label) count aggregation
                # peaks EXACTLY here — with identity labels its group
                # cardinality is ~2m (near-zero map-side combining, the
                # single most expensive superstep at web scale). Instead:
                # every unique (listener, speaker) pair is a cnt-1 vote,
                # so one n-group min aggregation with perfect partial
                # combining yields the best single-vote candidate, and
                # the (rare, exactly-counted) duplicated pairs get their
                # true counts from only the rows that contain them. The
                # min-agg re-lists a duplicated speaker as a weaker cnt-1
                # candidate of the same label — harmless, its true
                # (cnt>1) candidate dominates. Equivalence cases
                # (self-loops beat cnt-1 neighbors via the sticky flag,
                # duplicated > smaller-id single, isolated keep
                # themselves) are pinned by
                # test_lpa_first_superstep_fastpath and transitively by
                # the lpa_full recursive-CTE oracle.
                used_fast1 = True

                def _votes(rows):
                    return rows.select(
                        F.col("dst").alias("spk"),
                        F.explode("srcs").alias("id"),
                    ).filter(on)

                best = _votes(sym).groupBy("id").agg(
                    F.min(
                        F.when(F.col("spk") != F.col("id"), F.col("spk"))
                    ).alias("mn"),
                    F.max((F.col("spk") == F.col("id")).cast("int")
                          ).alias("selfv"),
                )
                # identity init: a listener's current label is its id
                cands = [
                    F.struct(
                        F.coalesce(F.col("selfv"), F.lit(0)).cast("long")
                        .alias("cnt"),
                        F.lit(1).alias("t1"),
                        (-F.col("id")).cast("long").alias("t2"),
                        F.col("id").alias("lbl"),
                    ),
                    F.when(
                        F.col("mn").isNotNull(),
                        F.struct(
                            F.lit(1).cast("long").alias("cnt"),
                            F.lit(0).alias("t1"),
                            (-F.col("mn")).cast("long").alias("t2"),
                            F.col("mn").alias("lbl"),
                        ),
                    ),
                ]
                if sym_dups:
                    dupc = (
                        _votes(sym.filter(
                            F.size("srcs") != F.size(F.array_distinct("srcs"))
                        ))
                        .groupBy("id", "spk")
                        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
                        .filter(F.col("cnt") > 1)
                        .groupBy("id")
                        .agg(F.max(F.struct(
                            F.col("cnt"),
                            (F.col("spk") == F.col("id")).cast("int")
                            .alias("t1"),
                            (-F.col("spk")).cast("long").alias("t2"),
                            F.col("spk").alias("lbl"),
                        )).alias("wd"))
                    )
                    best = best.join(dupc, "id", "left")
                    cands.append(F.col("wd"))
                want = best.select(
                    "id", F.greatest(*cands).getField("lbl").alias("want_lbl"))
            else:
                # ---- full gather, active-parity listeners only ----
                active = None
                if FRONTIER and changed_cnt is not None \
                        and fbound2_cnt <= FRONTIER_MAX:
                    # frontier: movers of the last TWO supersteps
                    # (changed | prevch) plus their neighbors — a vertex
                    # inactive at t re-evaluates at t+1, so both
                    # supersteps' moves (multiset changes AND the movers'
                    # own sticky-state changes) are exactly what it
                    # missed
                    movers = state.filter("changed or prevch").select(
                        F.col("id").alias("dst"))
                    hit = sym.join(F.broadcast(movers), "dst", "left_semi")
                    active = hit.select(
                        (F.explode("srcs") if csr else F.col("src")).alias("id")
                    ).unionByName(
                        movers.withColumnRenamed("dst", "id")).distinct()
                want = lpa_superstep(
                    sym,
                    state.select("id", "lbl"),
                    active=active,
                    listener_pred=on,
                    gather_parts=_gather_parts(it),
                ).select("id", F.col("lbl").alias("want_lbl"))
            state, got = loop.step(
                _next_state(state, want),
                {
                    "changed": F.sum(F.col("changed").cast("long")),
                    # bound on |active|: movers + their neighbors;
                    # fbound2 widens it to the last TWO supersteps
                    "fbound": F.sum(
                        F.when(F.col("changed"), F.col("deg") + 1).otherwise(F.lit(0))
                    ),
                    "fbound2": F.sum(
                        F.when(
                            F.col("changed") | F.col("prevch"),
                            F.col("deg") + 1,
                        ).otherwise(F.lit(0))
                    ),
                },
            )
            changed_cnt = int(got.get("changed") or 0)
            frontier_bound = int(got.get("fbound") or 0)
            fbound2_cnt = int(got.get("fbound2") or 0)
            changed_history.append(changed_cnt)
            iter_secs.append(_time.time() - t_it)
            # one quiet superstep certifies only one parity; two in a
            # row evaluate BOTH parities on the same labeling — a true
            # fixpoint (an inactive vertex's would-be move is simply its
            # move one superstep later, so this never stops early)
            if changed_cnt == 0 and prev_changed_cnt == 0:
                break
            prev_changed_cnt = changed_cnt
            if delta_ok and counts is None and \
                    frontier_bound + changed_cnt <= DELTA_MSGS_FRAC * total_msgs:
                # engage: ONE full gather builds the counts table
                if counts_loop is None:
                    counts_loop = StateLoop(
                        spark, f"{state_name}_cnt", mode="tables",
                        bucket_key="id", parts=P)
                gather0 = sym.join(
                    state.select(F.col("id").alias("dst"), "lbl"), "dst"
                ).select(F.explode("srcs").alias("id"), "lbl")
                counts = counts_loop.init(
                    gather0.repartition(P, "id")
                    .groupBy("id", "lbl")
                    .agg(F.count(F.lit(1)).alias("cnt")),
                    start_iter=it,
                )
                counts_fresh = True

    if mode != "tables":
        sym.unpersist()
    else:
        loop._drop_table(sym_table)
    out = state.select("id", F.col("lbl").alias("comm"))
    if renumber:
        out = permute_labels(out)
    if counts_loop is not None:
        counts_loop.cleanup()
    loop.cleanup(keep_final=True)
    # iter_secs covers the WHOLE superstep (counts maintenance + state
    # write in delta mode), not just the state-loop action
    return LPAResult(out, it, changed_history, iter_secs, delta_from,
                     first_superstep_fast=used_fast1)


def permute_labels(membership: DataFrame) -> DataFrame:
    """Canonical first-seen renumbering: community containing the
    smallest vertex id gets label 1, etc. (permute_labels!,
    src/utils.jl:14-35, with vertex order = id order).

    Ranks over the per-label table (not per-vertex) and without an
    unpartitioned window (rank_small_or_large): LPA on a fragmented
    web graph can leave O(1e8) labels, which a global row_number
    would sort on one executor."""
    from ..functions.ids import rank_small_or_large, rank_window_max

    lbl_col = membership.columns[1]
    m = membership.select("id", F.col(lbl_col).alias("_lbl"))
    firsts = m.groupBy("_lbl").agg(F.min("id").alias("first_id"))
    q = firsts.count()
    mapping = rank_small_or_large(firsts, F.col("first_id"), n=q).select(
        "_lbl", F.col("rank").alias("_new")
    )
    if q <= rank_window_max():
        mapping = F.broadcast(mapping)
    return (
        m.join(mapping, "_lbl")
        .select("id", F.col("_new").cast("long").alias(lbl_col))
    )


def lpa(edges: DataFrame, **kw) -> LPAResult:
    """Unweighted async-equivalent LPA (src/label_propagation.jl:98-116)."""
    return label_propagation(edges, weighted=False, cn_bonus=False, **kw)


def nsdlpa(edges: DataFrame, **kw) -> LPAResult:
    """Neighbor-strength-driven LPA: votes weighted 1+cn
    (src/label_propagation.jl:77-96)."""
    return label_propagation(edges, cn_bonus=True, **kw)
