package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation — the quality prior
  * web-scale pipelines attach to documents (Common Crawl link
  * analysis; OPIC/PageRank-family centrality as a crawl/keep signal),
  * complementing the content-side quality stack (rule gate, learned
  * filter, perplexity).
  *
  * Reference analog: the reference has no graph layer; this is part of
  * the beyond-reference training-data surface (SURVEY §6), built the
  * Spark-first way: power iteration where each round is ONE edge join
  * + one destination-keyed partial aggregation + a one-row dangling
  * aggregate — no corpus-wide window, no driver-side adjacency. */
object Graph {

  /** The between-iteration pin for the EDGE-SCALE frame (r15, advisor
    * note): the default lazy localCheckpoint is executor-local — at the
    * 100 TB design point a lost executor then fails the whole
    * pagerank/hits query instead of recomputing, and unlike the
    * node/rank pins this one is edge-sized. Setting
    * `spark.graft.reliableGraphPins=true` routes the edge pin through
    * the reliable checkpoint dir (one durable edge-table write per
    * query). ONLY the edge pin becomes durable: the node/degree pins
    * and every per-iteration rank pin stay executor-local
    * localCheckpoints, so a lost executor mid-query still fails
    * pagerank/hits — this is not yet the [[Dedup.components]]
    * lost-executor recovery story. Local/default behavior is
    * unchanged, so bench comparability holds. */
  private def pinEdges(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.reliableGraphPins")
        .exists(_.toBoolean)) {
      Dedup.ensureCheckpointDir(df.sparkSession)
      df.checkpoint()
    } else df.localCheckpoint(false)

  private def fold9(c: Column): Column =
    round(aggregate(sort_array(collect_list(c)), lit(0d), _ + _), 9)

  /** The per-key summation both iterations are built from, in the two
    * modes the engine offers everywhere determinism and scale trade
    * off (the kmeansStep/trainCentroids precedent):
    *
    *   - `exact = true`: ascending sorted fold — bit-reproducible
    *     across engines/runs/partitionings (the oracle mode), at the
    *     cost of materializing ONE in-degree-sized array per node in
    *     the aggregation buffer. Fine for planted test graphs; a
    *     power-law web graph has 10^6–10^8-in-degree authorities, and
    *     an array that size in a single buffer is the exact hot-key
    *     failure the engine's owner-agg discipline exists to avoid.
    *   - `exact = false`: plain `sum` — partial-aggregable (map-side
    *     combine, O(1) state per key per upstream partition, hot nodes
    *     just get more partial rows to merge), the production mode.
    *     Results differ from exact only by double-addition order, ≤ a
    *     few ulps per stage before the shared 9dp rounding (GraphSpec
    *     law: assoc ≈ exact within 1e-9 on planted graphs; SCALE.md
    *     hot-node stress row for the scale shape).
    */
  private[graft] def nodeSum(c: Column, exact: Boolean): Column =
    if (exact) fold9(c) else round(sum(c), 9)

  /** PageRank by power iteration with damping `d`:
    *
    *   pr'(v) = (1−d)/N + d · (Σ_{u→v} pr(u)/deg(u) + dangling/N)
    *
    * where `dangling` is the rank mass of nodes with no out-edges
    * (redistributed uniformly — the standard correction that keeps Σpr
    * at 1). Nodes are the UNION of edge endpoints; `edges` must carry
    * (src, dst) with no duplicate edges (dedupe upstream if multi-edges
    * should not double-weight).
    *
    * Scale shape: per iteration, one src-keyed join of the rank frame
    * onto the edge list, one dst-keyed partial-aggregable sum, and a
    * 1-row dangling aggregate (a driver scalar — the classic power-
    * iteration shape). The rank frame is `localCheckpoint`ed every
    * iteration so lineage stays one round deep (the trainCentroids
    * lesson: lazy iteration compounds ~2^iters replays). On a cluster
    * the checkpoint is the natural durable between-iteration table.
    *
    * Determinism: per-edge contributions are 9dp-rounded off exact
    * IEEE divisions, per-destination sums and the dangling mass are
    * ascending sorted folds (`exact = true`, the oracle mode; pass
    * `exact = false` for the partial-aggregable production mode —
    * see [[nodeSum]]), and each new rank is 9dp-rounded — so ranks
    * are bit-identical across engines, runs, and partitionings.
    * Pass a damping whose complement is IEEE-exact (0.5, 0.75, 0.85
    * is NOT: 1−0.85 ≠ 0.15 in doubles — both engines must spell the
    * complement the same way; this operator uses `1 − d` internally,
    * so an oracle must too).
    * Output: v, pr (9dp), ordered by v. */
  def pagerank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      exact: Boolean = true): DataFrame = {
    require(iters >= 1, "iters must be positive")
    require(damping > 0.0 && damping < 1.0, s"damping $damping outside (0, 1)")
    // The edge list is materialized ONCE (localCheckpoint, the same
    // between-iteration pin the rank frame gets): every iteration joins
    // it, and without the pin each of the `iters` update jobs re-derives
    // it from the source scan (for the declared link-graph queries that
    // is 2 corpus scans + a distinct PER ITERATION — r14 JobProfile
    // measured the derivation re-running inside every iteration job).
    // nodes/deg then derive from the pinned edges, not the raw scan.
    // All pins below are LAZY localCheckpoints: each is materialized
    // inside its first consumer's job (n's count for e/nodes, the first
    // iteration's update for deg and the seed ranks) instead of paying
    // a dedicated eager-materialization job per frame — same lineage
    // truncation, four fewer driver sync points per query (r14).
    val e = pinEdges(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")))
    val nodes = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .distinct()
      .localCheckpoint(false)
    val n = nodes.count()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    var pr = nodes.select(col("v"), (lit(1.0) / n).as("pr"))
      .localCheckpoint(false)
    for (_ <- 1 to iters) {
      // The dangling mass is a ONE-ROW aggregate; instead of collecting
      // it to the driver (a full extra job per iteration — half this
      // loop's driver sync points), it rides into the update as a
      // broadcast 1-row crossJoin (the p32/p47 corpus-total shape).
      // Arithmetic is unchanged: the same nodeSum feeds the same
      // `dm / n` term, with the empty-input null mapped to 0.0 exactly
      // as the old isNullAt branch did.
      val dang = pr.join(deg.select(col("src").as("v")), Seq("v"), "left_anti")
        .agg(coalesce(nodeSum(col("pr"), exact), lit(0.0)).as("dm"))
      val sums = e.join(pr.withColumnRenamed("v", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("v"), round(col("pr") / col("deg"), 9).as("c"))
        .groupBy("v").agg(nodeSum(col("c"), exact).as("s"))
      pr = nodes.join(sums, Seq("v"), "left")
        .crossJoin(broadcast(dang))
        .select(col("v"), round(
          lit(1 - damping) / n +
            lit(damping) * (coalesce(col("s"), lit(0.0)) + col("dm") / n), 9)
          .as("pr"))
        .localCheckpoint(false)
    }
    pr.orderBy("v")
  }

  /** HITS hubs-and-authorities (Kleinberg) by power iteration:
    *
    *   a'(v) = Σ_{u→v} h(u)      h'(u) = Σ_{u→v} a(v)
    *
    * each half-step L1-normalized (scores sum to 1 — chosen over the
    * textbook L2 norm because it needs no sqrt, keeping every number a
    * rounded sum/quotient that reproduces bit-for-bit across engines).
    * Complements [[pagerank]] as a curation signal: authorities are
    * the pages good hubs point at — a link-quality prior that is NOT
    * rank mass (a page linked once from a strong hub can out-rank a
    * page linked often from weak ones).
    *
    * Scale shape: per iteration two src/dst-keyed joins + partial
    * aggregations and two 1-row normalization totals;
    * `localCheckpoint` bounds lineage per half-step. Determinism: the
    * per-node sums and the totals are ascending sorted folds rounded
    * 9dp, and each normalized score is a 9dp-rounded quotient of
    * already-rounded terms — an oracle must unroll the same way. The
    * totals use the same sorted-fold collect as [[pagerank]]'s
    * dangling mass: exact cross-engine reproducibility costs one
    * in-degree-sized array per hot node per iteration; `exact = false`
    * IS that production deployment — plain partial-aggregable `sum`
    * per node and total ([[nodeSum]]), giving up the last ulp
    * (GraphSpec law: within 1e-9 of exact on planted graphs).
    * Output: v, auth, hub (9dp), ordered by v. */
  def hits(edges: DataFrame, iters: Int = 5,
      srcCol: String = "src", dstCol: String = "dst",
      exact: Boolean = true): DataFrame = {
    require(iters >= 1, "iters must be positive")
    // Edge list pinned once for the same reason as [[pagerank]]'s: both
    // half-steps of every iteration join it, and unpinned each of the
    // 2×iters update jobs re-derives it from the source scan.
    // Lazy pins (the pagerank rationale): materialized by n's count.
    val e = pinEdges(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")))
    val nodes = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .distinct()
      .localCheckpoint(false)
    val n = nodes.count()
    require(n > 0, "hits: empty edge set")
    // L1-normalize a raw (v, s) score frame over the node set: nodes
    // missing from `raw` (no in-/out-edges for this half-step) score 0.
    // `raw` IS consumed twice (total + join) but its lineage starts at
    // the previous half-step's localCheckpoint, so the replay is one
    // cheap edge join + agg; pinning it was A/B-measured at sf0.1 and
    // changed nothing (3.20 vs 3.21 s) — the extra materialization is
    // not worth a job. The L1 total is a ONE-ROW aggregate and rides
    // into the normalize as a broadcast 1-row crossJoin rather than a
    // driver collect — this removes one full job per HALF-STEP (2×iters
    // driver sync points per query), with arithmetic unchanged (the
    // same nodeSum value divides the same coalesced score).
    def l1(raw: DataFrame): DataFrame = {
      val tot = raw.agg(nodeSum(col("s"), exact).as("t"))
      nodes.join(raw, Seq("v"), "left")
        .crossJoin(broadcast(tot))
        .select(col("v"),
          round(coalesce(col("s"), lit(0.0)) / col("t"), 9).as("s"))
        .localCheckpoint(false)
    }
    var hub = nodes.select(col("v"), (lit(1.0) / n).as("s"))
      .localCheckpoint(false)
    var auth = hub
    for (_ <- 1 to iters) {
      auth = l1(e.join(hub.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), col("s"))
        .groupBy("v").agg(nodeSum(col("s"), exact).as("s")))
      hub = l1(e.join(auth.withColumnRenamed("v", "dst"), "dst")
        .select(col("src").as("v"), col("s"))
        .groupBy("v").agg(nodeSum(col("s"), exact).as("s")))
    }
    nodes
      .join(auth.withColumnRenamed("s", "auth"), "v")
      .join(hub.withColumnRenamed("s", "hub"), "v")
      .orderBy("v")
  }
}
