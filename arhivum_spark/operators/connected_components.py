"""Connected components over an edge list.

Replaces the reference's greedy O(n^2) transitive grouping with a
processed-set (CodeProjectDuplicateDetectionService.java:48-95) — that loop
IS small-scale connected components; here it's the distributed version.

One algorithm: min-label propagation with a pointer jump in every round.

- Round 0 is one aggregate over the symmetric edges,
      label(v) <- least(v, min_{(u,v) in E} u)
  followed by the jump label(v) <- label(label(v)) in the same plan.
- Every later round is a hop then a jump,
      hop(v)   <- min(label(v), min_{(u,v) in E} label(u))
      label(v) <- label_prev(hop(v))
  where label_prev is the previous round's checkpointed labels frame, so
  the round pins nothing but its own result. Labels are always ids of
  touched vertices and never increase, so the jump join is total and
  monotone (label_prev(u) <= u).

Each round is ONE `localCheckpoint()` of the labels frame (north rule:
checkpointed lineage), and the count of labels it changed is an
`Observation` filled in by that same checkpoint — no separate count job.
The checkpointed labels are re-read under a plan without carried
statistics, so planning a round costs the same whatever its number. The
hub-star graphs the dedup pipelines feed in (operators/lsh.py) finish in
2-3 rounds, the last of them a round that changes nothing. One jump per
round does NOT bound the rounds by O(log diameter) for every id order:
when ids are scrambled along a chain, the round count can grow with the
chain length (28 rounds on a 30-vertex chain; see ROADMAP's open item on
bounding the rounds). Labels still changing after `max_iters` rounds
raise `ConvergenceError` — partial labels are never returned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class ConvergenceError(RuntimeError):
    """Label propagation exhausted max_iters with labels still changing.

    Returning the partial labels silently would hand the caller WRONG
    components (a chain deeper than the round budget can resolve is the
    failure mode); raising makes non-convergence impossible to miss.
    """


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iters: int = 50,
    id_col: str = "id",
    stats: dict | None = None,
) -> DataFrame:
    """vertices(id), edges(src,dst) -> (id, component) with component =
    min vertex id reachable. Vertices absent from edges keep component=id.

    Output is restricted to `vertices` (one row per vertices row; callers
    pass distinct ids): edge endpoints outside it still PROPAGATE labels
    (so an out-of-vertex node can bridge two vertices) but are not
    emitted.

    Raises ConvergenceError if labels still change after `max_iters`
    rounds (round 0 included).

    If `stats` is a dict it receives {"rounds": n}, n counting round 0
    and the final round that changed nothing — observability for
    benchmarks and ops, no effect on the result.
    """
    if max_iters < 1:
        # a zero-round run would return all-self labels — exactly the
        # partial-labels outcome the ConvergenceError guard exists to stop
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    # Pinned lazily: materialized by round 0's checkpoint job, read again
    # by every later hop. No distinct(): duplicate edges cannot change a
    # minimum. A null endpoint connects nothing; dropping it here also
    # spares round 0 an inferred isnotnull(a) under one side of its jump
    # join, so both sides share one aggregate exchange.
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .localCheckpoint(eager=False)
    )
    # Only edge endpoints ever get a label; every other vertex keeps its
    # own id at emit time.
    first = (
        sym.groupBy("a")
        .agg(F.min("b").alias("_m"))
        .select(
            F.col("a").alias("v"),
            F.least("a", "_m").alias("_hop"),
            F.col("a").alias("_old"),
        )
    )
    step = _jump(first, first.select("v", F.col("_hop").alias("component")))
    for rnd in range(max_iters):
        if rnd:
            step = _jump(_hop(sym, labels), labels)
        obs = Observation()
        labels = _fresh_plan(
            step.observe(
                obs,
                F.count_if(F.col("component") < F.col("_old")).alias("changed"),
            )
            .select("v", "component")
            .localCheckpoint()
        )
        changed = obs.get["changed"]
        if changed == 0:
            break
    else:
        raise ConvergenceError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); component diameter exceeds "
            "the round budget — raise cc_max_iters"
        )
    if stats is not None:
        stats["rounds"] = rnd + 1
    comp = labels.select(F.col("v").alias(id_col), "component")
    return vertices.select(id_col).join(comp, id_col, "left").select(
        id_col, F.coalesce("component", id_col).alias("component")
    )


def _fresh_plan(checkpointed: DataFrame) -> DataFrame:
    """The rows of a checkpointed frame under a plan that carries no size
    estimate. `localCheckpoint()` keeps the checkpointed plan's
    statistics, and a join's size-only estimate is the product of its
    children's, so a round's labels estimate would square every round
    (4,871 digits by round 7); past about 20 rounds the planner's BigInt
    arithmetic alone takes minutes to hours. The fresh frame reads the
    same checkpointed RDD (no job) at the default size estimate, so every
    round plans alike whatever its number."""
    spark = checkpointed.sparkSession
    jdf = spark._jsparkSession.internalCreateDataFrame(
        checkpointed._jdf.queryExecution().toRdd(),
        checkpointed._jdf.schema(),
        False,
    )
    return DataFrame(jdf, spark)


def _hop(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """(v, _hop = min label over v and its neighbours, _old = label(v)),
    one aggregate: the labels frame rides along in the union instead of
    being joined back."""
    nbr = sym.join(labels, sym.a == labels.v).select(
        F.col("b").alias("v"), "component", F.lit(None).alias("_old")
    )
    own = labels.select("v", "component", F.col("component").alias("_old"))
    return (
        nbr.unionByName(own)
        .groupBy("v")
        .agg(F.min("component").alias("_hop"), F.max("_old").alias("_old"))
    )


def _jump(hopped: DataFrame, prev: DataFrame) -> DataFrame:
    """(v, _hop, _old) -> (v, component = prev(_hop), _old). `prev` maps
    every touched vertex to a label <= its own id, so the join is total
    and the jump can only lower a label."""
    return (
        hopped.alias("h")
        .join(prev.alias("p"), F.col("h._hop") == F.col("p.v"))
        .select("h.v", "p.component", "h._old")
    )
