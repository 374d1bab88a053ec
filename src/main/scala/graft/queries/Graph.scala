package graft.queries

import graft.Tables
import graft.operators.{Checkpoints, Rounds}
import graft.operators.Rounds.Round
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iterative graph analytics over derived relational graphs. The engine's
  * second fixed-point operator family after connected components
  * (`operators/ConnectedComponents`): synchronous rounds, all arithmetic
  * exact integer so every round — and therefore the fixed iteration count
  * — is DuckDB-oracle hash-checkable. Every kernel but one keeps its graph
  * state in Spark (rounds of join + aggregate) and so runs at any corpus
  * size. [[hits]] is the exception: it declares a bounded node catalog and
  * holds its two |V|-long score vectors on the driver, one Spark job per
  * half-round.
  */
object Graph {

  /** q124 weighted PageRank over the item-transition graph, 5 synchronous
    * iterations in exact parts-per-million fixed point — the classic
    * authority score a web-scale corpus pipeline uses for crawl
    * prioritization and document quality weighting (Page et al., "The
    * PageRank Citation Ranking", 1999), here over the graph of consecutive
    * line items within an order (part A followed by part B).
    *
    * Exactness: ranks start at 1e6 micro-units; each round is
    *   r'(v) = 150000 + Σ_{u→v} ⌊850000·r(u)·w(u,v) / (1e6·W(u))⌋
    * with per-edge floor division, so Spark and the oracle agree bit-for-bit
    * — no double accumulation anywhere. Worst-case intermediate is
    * 850000·(total mass)·maxw ≈ 8.5e17 at sf0.1, inside int64.
    *
    * Scale shape: the edge list is built by one per-order window (a single
    * keyed shuffle of lineitem), aggregated once, and persisted — it is
    * consumed every round, and recomputing the window 5× would quintuple
    * the dominant scan. Each round is then one edges⋈ranks hash join (both
    * sides keyed on src — AQE picks the strategy; ranks is |V| rows, never
    * forced broadcast because V is corpus-derived) + one dst-keyed partial
    * aggregate + one left join back to the vertex set. 5 rounds = a fixed
    * 15-shuffle plan independent of corpus size; rank frames never grow
    * beyond |V|. Dangling mass is deliberately NOT redistributed (the
    * "no-redistribution" PageRank variant) — redistribution needs a global
    * scalar per round, and the variant keeps every round a pure local
    * join/aggregate, the property that matters at 100 TB. */
  /** The reusable iteration core: weighted PageRank over an edge frame
    * (`src`, `dst`, `wt` — longs), `rounds` synchronous rounds of the exact
    * ppm recurrence, returning (`node`, `r`) for every vertex. Generator-
    * driven parity with a driver-side reference implementation is asserted
    * in PropertySpec.
    *
    * Out-weights are folded into the edge list ONCE (inside the round loop
    * that join would re-run a groupBy + join per iteration), and the cache
    * is laid out hash(src) so every round's edges⋈ranks join reuses the
    * cached partitioning — only the rank frame moves between rounds.
    * The rank frame carries ONLY in-edge (dst) nodes: a node nobody points
    * at holds the constant 150000 from round 1 on (1e6 in round 0), so its
    * value rides as a coalesce DEFAULT instead of |V| join rows per round —
    * the frame is bounded by the pointed-at set, and the per-round plan is
    * exactly one join + one map-combined aggregate. Rounds materialize via
    * eager scratch checkpoints so each round's measured size feeds the
    * next round's join planning WITHOUT stranding CacheManager entries
    * (localCheckpoint preserves the hash(src) layout in the LogicalRDD, so
    * the per-round join still reuses the partitioning); [[Rounds]] frees
    * them. The returned lazy plan reads only the edge and final-round
    * checkpoints, whose blocks die with the result reference. */
  def pageRank(rawEdges: DataFrame, rounds: Int): DataFrame =
    pageRankSeeded(rawEdges, rounds, seed = None)

  /** [[pageRank]] generalized with an optional PERSONALIZATION seed set
    * (Page et al. 1999 §6; the Jeh & Widom 2002 "personalized PageRank"
    * special case): with `seed` given, teleport mass lands ONLY on seed
    * nodes — r₀(v) = 1e6·[seed v], and each round's base term is
    * 150000·[seed v] instead of the uniform 150000 — so authority flows
    * out of a trusted set through the link structure. Same exact-ppm
    * integer recurrence, same per-round plan (one edges⋈ranks join + one
    * map-combined aggregate); the seed indicator is a pure function of
    * the node id (no extra join — it rides as a codegen'd expression in
    * the coalesce default and the aggregate's base term), so the
    * personalized variant costs exactly the uniform one. */
  def pageRankSeeded(rawEdges: DataFrame, rounds: Int,
      seed: Option[Column => Column]): DataFrame = {
    val seeded = seed.isDefined
    // the seed indicator (an md5 bucket — a string digest per evaluation)
    // is computed ONCE into the checkpointed edge frame and carried as
    // boolean columns: a first cut re-evaluated it inside the per-round
    // coalesce default and aggregate base, i.e. one md5 per EDGE per
    // round — measured 5.8 s vs q124's 2.2 s at ×10 for an otherwise
    // identical plan
    val enrich: DataFrame => DataFrame = df => seed.fold(df)(s =>
      df.withColumn("seed_src", s(col("src")))
        .withColumn("seed_dst", s(col("dst"))))
    val edges = Checkpoints.scratch(enrich(rawEdges
      .join(rawEdges.groupBy("src").agg(sum("wt").as("wout")), "src"))
      .repartition(col("src")))
    val initSrc =
      if (seeded) when(col("seed_src"), lit(1000000L)).otherwise(lit(0L))
      else lit(1000000L)
    val baseSrc =
      if (seeded) when(col("seed_src"), lit(150000L)).otherwise(lit(0L))
      else lit(150000L)
    val (last, _) = Rounds.iterate(Round[DataFrame](null), rounds) { (ranks, i) =>
      val joined =
        if (i == 1) edges.withColumn("r", initSrc)
        else edges
          .join(ranks.select(col("node").as("src"), col("r")), Seq("src"), "left")
          .withColumn("r", coalesce(col("r"), baseSrc))
      val contribCols =
        Seq(col("dst").as("node"),
          expr("850000 * r * wt div (1000000 * wout)").as("c")) ++
          (if (seeded) Seq(col("seed_dst").as("sd")) else Nil)
      val agged = joined.select(contribCols: _*)
      val next = Checkpoints.scratch(
        if (seeded)
          agged.groupBy("node")
            .agg(sum("c").as("csum"), max("sd").as("sd"))
            .select(col("node"),
              (when(col("sd"), lit(150000L)).otherwise(lit(0L)) +
                col("csum")).as("r"))
        else
          agged.groupBy("node").agg((lit(150000L) + sum("c")).as("r")))
      Round(next, Seq(next))
    }
    val ranks = last.state
    if (seeded) {
      // node universe WITH its (functionally dependent) seed flag, so the
      // never-pointed-at default needs no md5 re-evaluation either
      val nodes = edges.select(col("src").as("node"), col("seed_src").as("sf"))
        .union(edges.select(col("dst").as("node"), col("seed_dst").as("sf")))
        .distinct()
      nodes.join(ranks, Seq("node"), "left")
        .select(col("node"), coalesce(col("r"),
          when(col("sf"), lit(150000L)).otherwise(lit(0L))).as("r"))
    } else {
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      nodes.join(ranks, Seq("node"), "left")
        .select(col("node"), coalesce(col("r"), lit(150000L)).as("r"))
    }
  }

  // (okey, ln) is NOT unique in the fixture — the transition sequence in
  // [[transitionEdges]] rides a TOTAL order or lead() is engine/partition-
  // layout dependent
  def q124(spark: SparkSession, dir: String): DataFrame =
    pageRank(transitionEdges(spark, dir), rounds = 5)
      .select(col("node").as("part"), col("r").as("rank_micro"))
      .orderBy(desc("rank_micro"), col("part"))
      .limit(20)

  /** The oracle unrolls the same 5 rounds as chained CTEs (r1..r5), each
    * replaying the identical per-edge floor arithmetic. */
  val q124Sql: String = {
    val rounds = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    150000 + COALESCE(SUM(850000 * p.r * e.wt // (1000000 * o.wout)), 0) AS r
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN outw o ON o.src = e.src
         |  LEFT JOIN r${i - 1} p ON p.node = e.src
         |  GROUP BY n.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH hop AS (
       |  SELECT l_partkey AS pk,
       |    lead(l_partkey) OVER (PARTITION BY l_orderkey
       |      ORDER BY l_linenumber, l_partkey) AS dst
       |  FROM lineitem
       |), edges AS (
       |  SELECT pk AS src, dst, COUNT(*) AS wt FROM hop
       |  WHERE dst IS NOT NULL AND dst <> pk GROUP BY 1, 2
       |), outw AS (
       |  SELECT src, SUM(wt) AS wout FROM edges GROUP BY src
       |), nodes AS (
       |  SELECT DISTINCT node FROM
       |    (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), r0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
       |), $rounds
       |SELECT node AS part, CAST(r AS BIGINT) AS rank_micro FROM r5
       |ORDER BY rank_micro DESC, part LIMIT 20""".stripMargin
  }

  /** q256 PERSONALIZED PageRank (new r13) — authority seeded from a
    * trusted set, the crawl-prioritization / quality-weighting primitive
    * a pretraining pipeline runs when it has a whitelist (curated
    * domains, verified sources) and wants the rest of the corpus ranked
    * by linkage to it (Page et al. 1999 §6; Jeh & Widom, "Scaling
    * Personalized Web Search", WWW 2002). Same item-transition graph,
    * exact-ppm arithmetic, and 5-round plan as q124 — the seed set (md5
    * bucket 0-of-7 of part keys, engine-portable) enters only as a
    * codegen'd indicator in the teleport terms, so personalization costs
    * nothing over the uniform rank. Top-20 parts by seeded authority;
    * the interesting rows are the NON-seed parts pulled up by seed
    * adjacency. */
  def q256(spark: SparkSession, dir: String): DataFrame =
    pageRankSeeded(transitionEdges(spark, dir), rounds = 5,
      seed = Some(n => graft.functions.TextFunctions.hashBucket(n, 7) === 0))
      .select(col("node").as("part"), col("r").as("rank_micro"))
      .orderBy(desc("rank_micro"), col("part"))
      .limit(20)

  val q256Sql: String = {
    def seeded(x: String) =
      s"CAST('0x' || substr(md5(CAST($x AS VARCHAR)), 1, 8) AS BIGINT) % 7 = 0"
    val rounds = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    CASE WHEN ${seeded("n.node")} THEN 150000 ELSE 0 END
         |      + COALESCE(SUM(850000 * p.r * e.wt // (1000000 * o.wout)), 0) AS r
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN outw o ON o.src = e.src
         |  LEFT JOIN r${i - 1} p ON p.node = e.src
         |  GROUP BY n.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH hop AS (
       |  SELECT l_partkey AS pk,
       |    lead(l_partkey) OVER (PARTITION BY l_orderkey
       |      ORDER BY l_linenumber, l_partkey) AS dst
       |  FROM lineitem
       |), edges AS (
       |  SELECT pk AS src, dst, COUNT(*) AS wt FROM hop
       |  WHERE dst IS NOT NULL AND dst <> pk GROUP BY 1, 2
       |), outw AS (
       |  SELECT src, SUM(wt) AS wout FROM edges GROUP BY src
       |), nodes AS (
       |  SELECT DISTINCT node FROM
       |    (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), r0 AS (
       |  SELECT node,
       |    CASE WHEN ${seeded("node")} THEN CAST(1000000 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS r
       |  FROM nodes
       |), $rounds
       |SELECT node AS part, CAST(r AS BIGINT) AS rank_micro FROM r5
       |ORDER BY rank_micro DESC, part LIMIT 20""".stripMargin
  }

  /** The undirected co-purchase graph q136, q138 and q146 all analyze:
    * vertices are parts, an edge links two parts that ever share an order.
    * Built by one basket self-join (Σ basket² pair instances, bounded by
    * basket size like q122) and normalized to `a < b` so each undirected
    * edge is exactly one row.
    *
    * The frame is shared per (session, dir, corpus stamp) — the
    * [[graft.ann.Models]] fingerprint discipline applied to a derived
    * frame: the basket self-join is the dominant cost of every graph-family
    * query, and a session running several of them (q136 + q138 + q146)
    * would otherwise rebuild it each time. The shared frame is persisted at
    * creation; the kernels' own entry persists are no-ops on a
    * still-cached frame and transparently re-cache it after an external
    * unpersist sweep (e.g. Bench's between-query block-store reset, which
    * deliberately keeps timed queries independent). A rewritten lineitem
    * invalidates via the stamp (unpersisting the superseded frame); a
    * restarted session via `sessionUUID` in the key. Built FROM the shared
    * [[SharedFrames.basketItems]] frame, so a session mixing basket-mining
    * and graph queries pays the corpus scan + distinct exactly once. */
  private def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    // the basket lookup is hoisted OUT of the build thunk, as in
    // Semantic.memberFrame: both go through Models.cachedLatest, and a
    // nested call is a reentrant ConcurrentHashMap update
    // (IllegalStateException("Recursive update") once the map's bins
    // collide); a warm basket frame costs a map hit here
    val items = SharedFrames.basketItems(spark, dir)
    SharedFrames.sharedFrame(spark, dir, "lineitem", "copurchase-edges") {
      items.select(col("okey"), col("part").as("a"))
        .join(items.select(col("okey").as("okey_b"), col("part").as("b")),
          col("okey") === col("okey_b") && col("a") < col("b"))
        .select("a", "b").distinct()
    }
  }

  /** q136 triangle counting with degree orientation — the graph kernel
    * behind clustering-coefficient quality signals on web/link corpora.
    * Naive wedge enumeration joins the edge list with itself on the shared
    * vertex, and a single high-degree hub (every corpus has one) produces
    * deg² wedge rows — the "curse of the last reducer". The fix is the
    * standard orientation trick (Suri & Vassilvitskii, "Counting Triangles
    * and the Curse of the Last Reducer", WWW'11): orient every edge from
    * its lower-(degree, id) endpoint to the higher one. The oriented graph
    * is acyclic, every triangle survives as exactly one wedge + closing
    * edge, and out-degrees are bounded by O(√m), so the wedge join
    * produces at most O(m^1.5) rows no matter how skewed the degree
    * distribution — the hub's wedges are charged to its low-degree
    * neighbors. Plan shape: two edge-list joins plus bounded aggregates,
    * no driver-side graph state; everything integer-exact, closure ratio
    * in ppm by floor division. */
  def q136(spark: SparkSession, dir: String): DataFrame =
    // q136 shares both materialized frames (`deg` and the oriented frame
    // built on it) through the stamped registry, so repeated executions
    // against an unchanged corpus (a session mixing graph queries, the
    // bench's timed reps) reuse one materialization and the registry owns
    // the eviction lifecycle. Both, never just the oriented one: a registry
    // frame outlives the query, and a scratch checkpoint in its lineage is
    // freed by the between-query sweep (SharedFrames.sharedFrame refuses
    // such a frame). Each entry recomputes from its parquet lineage.
    triangleStats(coPurchaseEdges(spark, dir),
      (kind, df) => SharedFrames.sharedFrame(spark, dir, "lineitem",
        s"copurchase-$kind")(df))

  /** The reusable kernel: `edges` must be the normalized undirected edge
    * set (columns `a` < `b`, distinct). Property-tested against a
    * driver-side brute-force triple count in PropertySpec.
    * @param materialize how to share the kernel's two multi-consumer
    *        frames, called as `materialize("deg", ..)` for the degree
    *        frame and then `materialize("oriented", ..)` for the oriented
    *        edge frame built on it. The default eager scratch checkpoint
    *        dies with the returned frame (direct kernel callers); q136
    *        swaps in corpus-stamped registry entries so re-executions
    *        reuse one materialization. A materializer must treat both
    *        kinds alike: a cross-query frame whose lineage holds a scratch
    *        checkpoint breaks after the next block-store sweep. */
  def triangleStats(rawEdges: DataFrame,
      materialize: (String, DataFrame) => DataFrame =
        (_, df) => graft.operators.Checkpoints.scratch(df)): DataFrame = {
    // NOT persisted here: the q136 path passes the SharedFrames-cached
    // co-purchase frame (already materialized, registry-owned lifecycle),
    // and a kernel-entry persist() on a lazily-returned result has no
    // release point — it would strand a CacheManager entry per call (the
    // r9 leak class). Direct callers pass cached or cheap edge frames.
    val edges = rawEdges
    // deg is materialized (r17; the r16 q146 fix applied here), through
    // the same materializer as the oriented frame — scratch by default, a
    // registry entry on the q136 path, where the oriented frame built on
    // it is registry-shared too and so must not be scratch-rooted. Never
    // left lazy: it has THREE consumer subtrees (both orientation-join
    // sides and the vertex/wedge moment aggregate), and the r17 job probe
    // showed the union+aggregate pass running 2×+ (≈10 s task time per
    // pass at sf0.1) because AQE plans the join and aggregate stage trees
    // separately — exchange reuse never fires across them. ≤|V| rows, so
    // materializing it is cheap at any scale.
    val deg = materialize("deg",
      edges.select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d")))
    val lowFirst = edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .withColumn("fwd",
        col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
    // MATERIALIZED (scratch checkpoint by default, registry entry on the
    // q136 path), never left lazy: consumed three times (adjacency build +
    // two probe joins), and an r11 A/B tried plain recompute here (the fix
    // that won for q145's pairInstances): 5.7–10.3 s vs 2.5–3.3 s
    // materialized at sf0.1 — the three consumers are NOT identical
    // subtrees (adjacency collect_list vs two probe joins), so exchange
    // reuse cannot dedupe the duplicated orientation work the way it
    // dedupes q145's twice-read self-join. Never a bare kernel persist():
    // a lazily-returned result has no release point (the r9 leak class).
    val oriented = materialize("oriented", lowFirst.select(
        when(col("fwd"), col("a")).otherwise(col("b")).as("src"),
        when(col("fwd"), col("b")).otherwise(col("a")).as("dst")))
    // Edge-iterator formulation (Schank & Wagner, "Finding, Counting and
    // Listing All Triangles in Large Graphs", WEA'05): a triangle's unique
    // lowest-ranked vertex u orients it u→v, u→w, v→w, so it is counted
    // exactly once at edge (u, v) as w ∈ N⁺(u) ∩ N⁺(v). Wedge ENUMERATION
    // (oriented ⋈ oriented on src, then a closing-edge probe) materializes
    // and shuffles O(m^1.5) wedge rows — 41M at sf0.1, and the shuffle of
    // those rows dominated the whole kernel (r7: 7–10 s). Intersecting
    // adjacency ARRAYS instead keeps every frame at m rows: the orientation
    // bounds |N⁺| by O(√m), so each adjacency list is a small array (max 97
    // at sf0.1), the per-edge intersect is O(√m) codegen'd work, and the
    // only shuffles are the adjacency groupBy plus two m-row joins. Skew-
    // safe for the same reason the orientation fixes the wedge join: a
    // degree hub's triangles are charged to its low-degree neighbors.
    val adj = oriented.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
    val nTri = oriented
      .join(adj.select(col("src"), col("nbrs").as("nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"))
      .select(call_function("intersect_count_i64", col("nu"), col("nv")).as("c"))
      .agg(coalesce(sum("c"), lit(0L)).as("n_triangles"))
    // vertex count and wedge sum are BOTH degree-local — one aggregate
    // pass over the materialized deg frame instead of two subtrees (and
    // one fewer crossJoin job); the explicit select restores the declared
    // column order
    val nVW = deg.agg(count(lit(1)).as("n_vertices"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    nVW.crossJoin(nE).crossJoin(nTri)
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
        col("n_triangles"))
      .withColumn("closure_ppm",
        expr("case when n_wedges > 0 then 3 * n_triangles * 1000000 div n_wedges end"))
  }

  val q136Sql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
      |), edges AS (
      |  SELECT DISTINCT a.part AS a, b.part AS b
      |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
      |), deg AS (
      |  SELECT v, COUNT(*) AS d FROM
      |    (SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
      |  GROUP BY v
      |), o AS (
      |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
      |           THEN e.a ELSE e.b END AS src,
      |         CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
      |           THEN e.b ELSE e.a END AS dst
      |  FROM edges e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
      |), w AS (
      |  SELECT o1.dst AS x, o2.dst AS y
      |  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst
      |), t AS (
      |  SELECT COUNT(*) AS nt FROM w JOIN edges ON w.x = edges.a AND w.y = edges.b
      |)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
      |  (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
      |  CAST(t.nt AS BIGINT) AS n_triangles,
      |  CAST(3 * t.nt * 1000000 // (SELECT SUM(d * (d - 1) // 2) FROM deg)
      |    AS BIGINT) AS closure_ppm
      |FROM t""".stripMargin

  /** q138 single-source shortest hops (BFS) — the third fixed-point family
    * member after components and PageRank: level-synchronous label-
    * correcting rounds, dist'(v) = min(dist(v), min over neighbors + 1),
    * from the minimum part id over the co-purchase graph. A fixed 6-round
    * frontier expansion (the graph's diameter at any SF is far below — the
    * final rounds are cheap no-change passes), each round one edges⋈dist
    * hash join + one map-combined min aggregate, the same
    * bounded-per-round shape as [[pageRank]]: no frontier queue on the
    * driver, rounds materialized as scratch checkpoints that [[Rounds]]
    * retires. Unreached vertices report -1.
    * The oracle unrolls the identical rounds as chained CTEs. */
  def q138(spark: SparkSession, dir: String): DataFrame =
    bfsHops(coPurchaseEdges(spark, dir), rounds = 6)
      .select(col("node").as("part"), col("dist"))
      .orderBy(col("dist"), col("part"))

  /** The reusable kernel: label-correcting BFS from the minimum vertex id,
    * `rounds` synchronous rounds, over the normalized undirected edge set
    * (`a` < `b`). Returns (`node`, `dist`) for every edge-touched vertex,
    * -1 where the frontier hasn't reached within the budget. Property-
    * tested against a driver-side BFS in PropertySpec.
    *
    * Two load-bearing choices, both learned the hard way (r7: the naive
    * persist/count loop took 88 s at sf0.1 on a 20k-vertex graph):
    *
    *  - Rounds truncate lineage via `localCheckpoint(eager = true)`, not
    *    persist: each round references `dist` TWICE (frontier filter +
    *    carry-forward join), so carrying lineage doubles the analyzed plan
    *    every round and cache-lookup canonicalization goes exponential in
    *    the round count — the cost was driver-side planning, not
    *    execution. [[Rounds]] frees each retired round's blocks.
    *  - Only the FRONTIER (nodes first settled in the previous round)
    *    propagates, not the whole settled set. Identical labels: in
    *    single-source level-synchronous BFS an unsettled vertex can only
    *    have settled neighbors at exactly distance r−1 (a closer neighbor
    *    would have settled it a round earlier), so the min over all
    *    settled neighbors IS the frontier min — and the per-round join
    *    shrinks from |E|⋈|V| to the frontier's incident edges. */
  def bfsHops(edges: DataFrame, rounds: Int): DataFrame = {
    // cached hash(u): the per-round frontier join keys on u, so the cache's
    // partitioning is reused every round and only the frontier moves —
    // the q124 PageRank edge-cache discipline
    // scratch checkpoint, not persist: the frame is read ONCE PER ROUND,
    // and a persist() stores it as compressed columnar CachedBatches that
    // pay decompression on every round's read (r16 probe: the per-round
    // frontier-join jobs carried 5–6 s of task time against a 24 MB
    // cache); the checkpoint stores raw rows, keeps the hash(u) layout in
    // the LogicalRDD (the pageRank edge-cache discipline), and its blocks
    // are swept at the query boundary like every other scratch frame.
    val sym = Checkpoints.scratch(
      edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
        .repartition(col("u")))
    val src = sym.agg(min(least(col("u"), col("v"))).as("s"))
    val dist0 = Checkpoints.scratch(
      sym.select(col("u").as("node")).distinct()
        .crossJoin(src)
        .select(col("node"),
          when(col("node") === col("s"), lit(0L)).otherwise(lit(null)).as("dist")))
    val (last, _) = Rounds.iterate(Round(dist0, Seq(dist0)), rounds) { (dist, r) =>
      val frontier = dist.filter(col("dist") === lit(r - 1L))
        .select(col("node").as("u"))
      // distinct, not groupBy-min: every frontier-adjacent unsettled node
      // gets exactly distance r, but a node with several frontier
      // neighbors must not fan out the carry-forward left join
      val hop = sym.join(frontier, "u")
        .select(col("v").as("node")).distinct()
        .withColumn("nd", lit(r.toLong))
      // early exit at the fixed point: once a round settles NOBODY, every
      // later round is the identity (its frontier is empty), so stopping
      // returns bit-identical results to running the full budget — the
      // rounds the oracle unrolls past the diameter are no-op CTEs. The
      // settled-this-round count rides the checkpoint job itself
      // (observe accumulator, Checkpoints.scratchCount) instead of a
      // per-round probe job over the just-written snapshot.
      val (next, nSettled) = Checkpoints.scratchCount(
        dist.join(hop, Seq("node"), "left")
          .select(col("node"), coalesce(col("dist"), col("nd")).as("dist")),
        col("dist") === lit(r.toLong))
      Round(next, Seq(next), more = nSettled > 0)
    }
    Checkpoints.release(sym)
    // the final round's checkpoint backs the returned plan — left live
    last.state.select(col("node"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }

  val q138Sql: String = {
    val rounds = (1 to 6).map { i =>
      s"""d$i AS (
         |  SELECT n.node,
         |    LEAST(COALESCE(p.dist, m.nd + 1), COALESCE(m.nd + 1, p.dist)) AS dist
         |  FROM nodes n
         |  LEFT JOIN d${i - 1} p ON p.node = n.node
         |  LEFT JOIN (
         |    SELECT s.v AS node, MIN(q.dist) AS nd
         |    FROM sym s JOIN d${i - 1} q ON q.node = s.u
         |    WHERE q.dist IS NOT NULL GROUP BY s.v
         |  ) m ON m.node = n.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
       |), edges AS (
       |  SELECT DISTINCT a.part AS a, b.part AS b
       |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
       |), sym AS (
       |  SELECT a AS u, b AS v FROM edges
       |  UNION ALL SELECT b AS u, a AS v FROM edges
       |), nodes AS (
       |  SELECT DISTINCT u AS node FROM sym
       |), d0 AS (
       |  SELECT node, CASE WHEN node = (SELECT MIN(node) FROM nodes)
       |    THEN CAST(0 AS BIGINT) END AS dist FROM nodes
       |), $rounds
       |SELECT node AS part, CAST(COALESCE(dist, -1) AS BIGINT) AS dist
       |FROM d6 ORDER BY dist, part""".stripMargin
  }

  /** q146 degree assortativity moments — does the co-purchase graph wire
    * hubs to hubs (assortative, r > 0) or hubs to leaves (disassortative,
    * r < 0)? The classic Pearson-over-edges statistic (Newman,
    * "Assortative mixing in networks", PRL 2002), shipped the q88 way: the
    * EXACT integer moment sums over the symmetrized edge list (n = 2m
    * directed endpoints; Σx, Σx², Σxy with x the source degree, y the
    * destination degree — Σy ≡ Σx by symmetry), so the mergeable partial
    * sums are the deliverable and the consumer finishes
    * r = (nΣxy − (Σx)²) / (nΣx² − (Σx)²) in whatever precision it wants —
    * no sqrt, no doubles, bit-exact cross-engine.
    *
    * Scale shape: one degree aggregate, two broadcast-or-shuffle joins of
    * the edge list against the |V|-row degree frame (AQE decides — degrees
    * are corpus-derived, never force-broadcast), one map-combined final
    * sum. Int64 bounds: Σd·d' ≤ 2m·dmax², fine to dmax ~ 3M at 1e12 edges;
    * past that the sums decompose per-shard (they are mergeable by
    * construction). */
  def q146(spark: SparkSession, dir: String): DataFrame =
    assortativityMoments(coPurchaseEdges(spark, dir))

  /** The reusable kernel over the normalized undirected edge set (`a` < `b`,
    * distinct). Parity with a driver-side reference on random graphs is
    * asserted in PropertySpec.
    *
    * Moment algebra (r11): over the symmetric endpoint list, vertex u
    * contributes its degree d_u exactly d_u times, so three of the four
    * moments are DEGREE-LOCAL — n_endpoints = Σd, s_x = Σd², s_xx = Σd³ —
    * and need no join at all; only the cross-moment s_xy needs degrees on
    * both endpoints, and by du·dv symmetry it is 2·Σ_edges d_a·d_b over
    * the HALF-size oriented edge list. Same output values as the naive
    * twice-joined symmetric frame (PropertySpec pins this), half the join
    * input, three fewer corpus-sized aggregate columns. Joins stay
    * unhinted: the degree frame is vertex-domain-sized (corpus-shaped at
    * open scale), so AQE decides broadcast vs shuffle from measurement. */
  def assortativityMoments(rawEdges: DataFrame): DataFrame = {
    val sym = rawEdges.select(col("a").as("u"), col("b").as("v"))
      .union(rawEdges.select(col("b").as("u"), col("a").as("v")))
    // deg is scratch-materialized: it has THREE consumers (the
    // degree-local moment aggregate and both cross-moment join sides),
    // and the r16 job probe showed the symmetrize+aggregate map stage
    // running TWICE (~11 s task time each at sf0.1) — AQE's per-stage
    // planning did not reuse the exchange across the aggregate and join
    // subtrees. The frame is ≤|V| rows, so the checkpoint is cheap at
    // any scale.
    val deg = Checkpoints.scratch(
      sym.groupBy(col("u").as("n")).agg(count(lit(1)).as("d")))
    // empty-graph contract matches the joined form and the oracle:
    // COUNT over no rows is 0, SUMs over no rows stay NULL
    val local = deg.agg(coalesce(sum("d"), lit(0L)).as("n_endpoints"),
      sum(expr("d * d")).as("s_x"),
      sum(expr("d * d * d")).as("s_xx"))
    val cross = rawEdges
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .agg(sum(expr("2 * da * db")).as("s_xy"))
    local.crossJoin(cross)
      .select(col("n_endpoints"), col("s_x"), col("s_xx"), col("s_xy"))
  }

  val q146Sql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
      |), edges AS (
      |  SELECT DISTINCT a.part AS a, b.part AS b
      |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
      |), sym AS (
      |  SELECT a AS u, b AS v FROM edges
      |  UNION ALL SELECT b AS u, a AS v FROM edges
      |), deg AS (
      |  SELECT u AS n, COUNT(*) AS d FROM sym GROUP BY u
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_endpoints,
      |  CAST(SUM(du.d) AS BIGINT) AS s_x,
      |  CAST(SUM(du.d * du.d) AS BIGINT) AS s_xx,
      |  CAST(SUM(du.d * dv.d) AS BIGINT) AS s_xy
      |FROM sym JOIN deg du ON du.n = sym.u JOIN deg dv ON dv.n = sym.v""".stripMargin

  /** Weighted HITS (Kleinberg, JACM 1999): the mutual-reinforcement
    * recurrence — auth(v) = Σ_{u→v} wt·hub(u), hub(u) = Σ_{u→v} wt·auth(v)
    * — in exact integer arithmetic, renormalized each half-round by the
    * vector MAX (x := x·1e6 div max, GREATEST(max,1) guards the all-zero
    * vector) so scores live in [0, 1e6]. Every product and sum is
    * `Math.multiplyExact` / `addExact`: an edge weight large enough to
    * overflow int64 fails the query as ANSI `*` / `sum` do, never wraps.
    * Hubs start at 1e6 for every node; a node with no in-edges has a = 0,
    * one with no out-edges h = 0. `src`, `dst` and `wt` are longs, the ids
    * non-null (a null weight adds nothing, as in SUM).
    *
    * Regime: BOUNDED CATALOG. The node set is collected to the driver and
    * both score vectors (|V| longs each) live there; each half-round
    * broadcasts the current vector and runs ONE Spark job over the
    * checkpointed edge blocks that folds wt·score[from] into a per-partition
    * |V|-slot partial, merged on the driver. A half-round thus costs one
    * job boundary; a SQL half-round pays its broadcast, shuffle and
    * checkpoint as separate jobs, and leaving it lazy would not merge
    * them, since under AQE each exchange is its own query-stage job. A
    * graph whose node table outgrows driver or executor memory needs the
    * co-partitioned join variant, a different declared regime; PageRank
    * ([[pageRankSeeded]]) runs that regime.
    *
    * Returns a local relation (`node`, `a`, `h`), one row per node, built
    * from the final vectors: no checkpoint or broadcast outlives the call. */
  def hits(rawEdges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"hits needs at least one round, got $rounds")
    val Seq(si, di, wi) = Seq("src", "dst", "wt").map { c =>
      val t = rawEdges.schema(c).dataType
      require(t == LongType, s"hits: edge column $c must be a long, got $t")
      rawEdges.schema.fieldIndex(c)
    }
    // the edge DISCOVERY plan (a corpus-wide window + groupBy upstream) is
    // materialized exactly once and every half-round reads its blocks.
    // The frame itself is checkpointed, never a projection of it: for a
    // SharedFrames registry entry the registry's own Dataset reuses its
    // executed plan (one job), where a projection re-plans the discovery
    // (measured at sf0.001: three more jobs per warm q267 execution).
    val eBase = Checkpoints.scratch(rawEdges)
    val spark = rawEdges.sparkSession
    val sc = spark.sparkContext
    try {
      val edges = Checkpoints.rddOf(eBase).get
      // the node catalog, sorted: a node's vector slot is its index
      val ids = sc.runJob(edges, (it: Iterator[InternalRow]) => {
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r =>
          if (r.isNullAt(si) || r.isNullAt(di))
            throw new IllegalArgumentException("hits: null src or dst")
          b += r.getLong(si); b += r.getLong(di)
        }
        b.result().distinct
      }).flatten.distinct.sorted
      val idsBc = sc.broadcast(ids)
      // one half-round: raw(to) = Σ wt·score(from), then renormalize
      def half(score: Array[Long], from: Int, to: Int): Array[Long] = {
        val scoreBc = sc.broadcast(score)
        val raw = new Array[Long](ids.length)
        try sc.runJob(edges, (it: Iterator[InternalRow]) => {
            val slots = idsBc.value
            val s = scoreBc.value
            val part = new Array[Long](slots.length)
            it.foreach { r =>
              if (!r.isNullAt(wi)) {
                val t = java.util.Arrays.binarySearch(slots, r.getLong(to))
                val f = java.util.Arrays.binarySearch(slots, r.getLong(from))
                part(t) = Math.addExact(part(t),
                  Math.multiplyExact(r.getLong(wi), s(f)))
              }
            }
            part
          }, (_: Int, part: Array[Long]) =>
            for (i <- raw.indices) raw(i) = Math.addExact(raw(i), part(i)))
        finally scoreBc.destroy()
        val mx = raw.foldLeft(1L)(math.max)
        raw.map(v => Math.multiplyExact(v, 1000000L) / mx)
      }
      val (auth, hub) =
        try (1 to rounds).foldLeft(
            (Array.empty[Long], Array.fill(ids.length)(1000000L))) {
          case ((_, h), _) =>
            val a = half(h, si, di)
            (a, half(a, di, si))
        }
        finally idsBc.destroy()
      spark.createDataFrame(
        java.util.Arrays.asList(
          ids.indices.map(i => Row(ids(i), auth(i), hub(i))): _*),
        StructType(Seq("node", "a", "h")
          .map(StructField(_, LongType, nullable = false))))
    } finally {
      // a live scratch frame passed in comes back as eBase: the caller's to free
      if (eBase ne rawEdges) Checkpoints.release(eBase)
    }
  }

  /** q267 HITS hubs & authorities (new r13) — the second classic link-
    * analysis recurrence after PageRank, over the SAME item-transition
    * graph: an AUTHORITY is a part many strong hubs transition INTO (the
    * destination everything funnels to), a HUB is a part whose outgoing
    * transitions land on strong authorities — the two roles PageRank's
    * single score conflates, and the reason HITS complements q124 in a
    * catalog/crawl ranking stack. 3 unrolled rounds (each = one weighted
    * in-aggregate, one MAX renormalization, one weighted out-aggregate,
    * one renormalization — all exact integers), top-20 by authority: six
    * Spark jobs over the checkpointed edges, one per half-round. The
    * oracle unrolls the identical 12 CTE steps. */
  def q267(spark: SparkSession, dir: String): DataFrame =
    hits(transitionEdges(spark, dir), rounds = 3)
      .select(col("node").as("part"), col("a").as("auth_micro"),
        col("h").as("hub_micro"))
      .orderBy(desc("auth_micro"), col("part"))
      .limit(20)

  val q267Sql: String = {
    // every CTE is MATERIALIZED (the q254 lesson): each step is referenced
    // twice (by its max and its renormalization, or by the next half-round
    // and the final join), so inlining expands the 12-step chain
    // exponentially — the un-materialized form filled 78 GB of DuckDB temp
    // spill at the x10 fixture before dying
    val rounds = (1 to 3).map { i =>
      s"""a${i}r AS MATERIALIZED (
         |  SELECT n.node, COALESCE(CAST(SUM(e.wt * p.h) AS BIGINT), 0) AS araw
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN h${i - 1} p ON p.node = e.src
         |  GROUP BY n.node
         |), a${i}m AS MATERIALIZED (
         |  SELECT GREATEST(MAX(araw), 1) AS mx FROM a${i}r
         |), a$i AS MATERIALIZED (
         |  SELECT node, araw * 1000000 // mx AS a FROM a${i}r CROSS JOIN a${i}m
         |), h${i}r AS MATERIALIZED (
         |  SELECT n.node, COALESCE(CAST(SUM(e.wt * q.a) AS BIGINT), 0) AS hraw
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.src = n.node
         |  LEFT JOIN a$i q ON q.node = e.dst
         |  GROUP BY n.node
         |), h${i}m AS MATERIALIZED (
         |  SELECT GREATEST(MAX(hraw), 1) AS mx FROM h${i}r
         |), h$i AS MATERIALIZED (
         |  SELECT node, hraw * 1000000 // mx AS h FROM h${i}r CROSS JOIN h${i}m
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH hop AS (
       |  SELECT l_partkey AS pk,
       |    lead(l_partkey) OVER (PARTITION BY l_orderkey
       |      ORDER BY l_linenumber, l_partkey) AS dst
       |  FROM lineitem
       |), edges AS MATERIALIZED (
       |  SELECT pk AS src, dst, COUNT(*) AS wt FROM hop
       |  WHERE dst IS NOT NULL AND dst <> pk GROUP BY 1, 2
       |), nodes AS MATERIALIZED (
       |  SELECT DISTINCT node FROM
       |    (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), h0 AS MATERIALIZED (
       |  SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes
       |), $rounds
       |SELECT a3.node AS part, CAST(a3.a AS BIGINT) AS auth_micro,
       |  CAST(h3.h AS BIGINT) AS hub_micro
       |FROM a3 JOIN h3 ON h3.node = a3.node
       |ORDER BY auth_micro DESC, part LIMIT 20""".stripMargin
  }

  /** Weighted SYNCHRONOUS label propagation (Raghavan et al. 2007, Phys.
    * Rev. E 76:036106 — near-linear-time community detection) over a
    * (src, dst, wt) edge frame, treated UNDIRECTED (each edge contributes
    * its weight to both endpoints' votes). Every node starts as its own
    * label; each round EVERY node simultaneously adopts the label carrying
    * the max incident weight (ties → smaller label — the deterministic
    * stand-in for the paper's random tie-break, and the reason the update
    * is synchronous with a FIXED round count: asynchronous LPA is
    * visit-order-dependent, which no oracle can replay). The classic
    * LPA caveat applies and is declared: on bipartite-ish structure a
    * synchronous update can 2-cycle — a fixed round count reads a
    * snapshot, not a fixed point, and both engines read the SAME snapshot.
    *
    * Scale shape (bounded catalog, the regime [[hits]] also declares): the
    * undirected edge frame is checkpointed ONCE; each round is one
    * broadcast of the ≤|V| label frame into the edge blocks, one
    * (node, lbl) map-combined aggregate,
    * and one argmax — Θ(rounds·|E|). Honest shuffle bound (r14 SCALING
    * measurement): the vote aggregate is keyed by (node, incident label),
    * whose distinct cardinality is bounded by 2|E|, NOT |V| — an LPA
    * round shuffles up to the undirected edge count where a PageRank
    * round map-combines to |V|; measured ~2.7–3.0× q124-per-round at
    * ×10/×30 (same JVM, `SCALING_r14.json`), the inherent price of
    * label-valued votes. Per-round label frames are eagerly checkpointed
    * and retired by [[Rounds]]; callers outside the bench sweep should
    * `Checkpoints.sweepScratch` after consuming the result. The input is
    * materialized once: arbitrary (possibly expensive) caller lineage is
    * copied, an edge frame that already is a scratch checkpoint (q305
    * shares one with its modularity pass) is used as it is. */
  def labelPropagation(rawEdges: DataFrame, rounds: Int): DataFrame = {
    val eDir = Checkpoints.scratch(rawEdges)
    // the undirected frame stays LAZY on purpose (r17; the q305 und lesson
    // generalized): its union is a pair of projections over eDir's
    // materialized blocks, so each round reads the |E| checkpoint twice —
    // the same bytes as reading an eager 2|E| snapshot once — and the
    // 2|E| checkpoint write (9.5+ MB/graph at sf0.1, 2|E| blocks at any
    // scale) disappears. The ×10 A/B that kept q305's und lazy (min 31.4 s
    // eager vs 18.8 s lazy) is the measured basis.
    val e = eDir.select(col("src").as("node"), col("dst").as("nbr"), col("wt"))
      .union(eDir.select(col("dst").as("node"), col("src").as("nbr"),
        col("wt")))
    val nodes = Checkpoints.scratch(e.select("node").distinct())
    val init = Round(nodes.withColumn("lbl", col("node")))
    Rounds.iterate(init, rounds) { (lbl, _) =>
      // every node has >= 1 incident edge by construction (nodes derive
      // from edges), so the vote aggregate covers all nodes — no left join.
      // The round checkpoints the <=|V| LABEL frame, with the argmax fused
      // into the same lineage, not the <=2|E| vote frame (r16 optimization;
      // measured at sf0.1: the vote-frame checkpoint wrote ~9.5 MB/round
      // and left the argmax LAZY on top, so every consumer of `lbl` — the
      // next round's broadcast build, and q305's THREE modularity joins —
      // re-ran the argmax aggregate from the vote blocks. Checkpointing
      // past the argmax writes ~0.9 MB/round, runs the argmax exactly
      // once, and hands consumers a materialized |V|-row frame).
      val next = Checkpoints.scratch(
        e.join(broadcast(lbl.select(col("node").as("nbr"), col("lbl"))),
            Seq("nbr"))
          .groupBy("node", "lbl").agg(sum(col("wt")).as("w"))
          .groupBy("node")
          .agg(min(struct((-col("w")).as("nw"), col("lbl").as("l"))).as("b"))
          .select(col("node"), col("b.l").as("lbl")))
      Round(next, Seq(next))
    }._1.state
  }

  /** q272 label-propagation communities (new r14) — the third classic
    * link-analysis operator over the q124/q267 item-transition graph:
    * where PageRank ranks nodes and HITS separates roles, LPA PARTITIONS
    * the graph into communities (the co-purchase neighborhoods a catalog
    * or curriculum groups by). 3 synchronous rounds, top-20 communities by
    * size with a member-id checksum pinning the exact partition under the
    * hash gate; the oracle unrolls the identical 6 CTE steps. */
  def q272(spark: SparkSession, dir: String): DataFrame =
    // default materialization: the kernel copies the SharedFrames-cached
    // frame into a raw-row scratch once, so the 3×2 per-round reads touch
    // raw rows, not CachedBatch decompression (the r16 lesson)
    labelPropagation(transitionEdges(spark, dir), rounds = 3)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), sum("node").as("member_id_sum"))
      .orderBy(desc("n_members"), col("community"))
      .limit(20)

  /** The item-transition edge frame (adjacent parts within an order,
    * self-loops dropped, parallel transitions weighted), factored so every
    * transition-graph query — q124, q256, q267, q272, q275, q305 — provably
    * walks the SAME graph.
    *
    * Shared per (session, dir, corpus stamp) like [[coPurchaseEdges]]
    * (r17): the window + aggregate discovery is the identical fixed entry
    * cost of all six queries (r17 JobProbe: ~1 s wall each), and a session
    * running several of them rebuilt it per query. Each kernel still takes
    * a raw-row scratch copy of the cached frame for its per-round reads
    * (the r16 CachedBatch-decompression lesson), so the cache is read once
    * per execution, never once per round.
    *
    * The window exchange deliberately stays AQE-coalesced (measured r17
    * dead end, the r16 minPartitionSize lesson repeated at stage scope:
    * pinning the window to the session's 32-way shuffle parallelism ran
    * the window + partial-aggregate stage at 18.8 s of task time vs 3.9 s
    * on the 8 AQE-coalesced tasks — this family's stages pay a per-task
    * constant that dwarfs the per-row work, the same effect that makes
    * the whole bench anti-scale 8→32 cores at sf0.1). */
  private def transitionEdges(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.sharedFrame(spark, dir, "lineitem", "transition-edges") {
      val li = Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"))
      val nxt = Window.partitionBy("okey").orderBy(col("ln"), col("pk"))
      li.withColumn("dst", lead("pk", 1).over(nxt))
        .filter(col("dst").isNotNull && col("dst") =!= col("pk"))
        .groupBy(col("pk").as("src"), col("dst"))
        .agg(count(lit(1)).as("wt"))
    }

  /** The q272 LPA oracle CTE chain (edges → und → l0 → 3 unrolled rounds,
    * every round MATERIALIZED — the 78 GB DuckDB spill lesson), factored so
    * q305's modularity oracle replays the IDENTICAL partition. Ends at
    * `l3` (node, lbl). */
  private val lpaCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT u.node, p.lbl, CAST(SUM(u.wt) AS BIGINT) AS w
         |  FROM und u JOIN l${i - 1} p ON p.node = u.nbr
         |  GROUP BY 1, 2
         |), l$i AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY w DESC, lbl) AS rn
         |    FROM s$i) t
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""hop AS (
       |  SELECT l_partkey AS pk,
       |    lead(l_partkey) OVER (PARTITION BY l_orderkey
       |      ORDER BY l_linenumber, l_partkey) AS dst
       |  FROM lineitem
       |), edges AS MATERIALIZED (
       |  SELECT pk AS src, dst, COUNT(*) AS wt FROM hop
       |  WHERE dst IS NOT NULL AND dst <> pk GROUP BY 1, 2
       |), und AS MATERIALIZED (
       |  SELECT src AS node, dst AS nbr, wt FROM edges
       |  UNION ALL SELECT dst, src, wt FROM edges
       |), nodes AS MATERIALIZED (
       |  SELECT DISTINCT node FROM und
       |), l0 AS MATERIALIZED (
       |  SELECT node, node AS lbl FROM nodes
       |), $rounds""".stripMargin
  }

  val q272Sql: String =
    s"""WITH $lpaCtes
       |SELECT lbl AS community, COUNT(*) AS n_members,
       |  CAST(SUM(node) AS BIGINT) AS member_id_sum
       |FROM l3 GROUP BY 1
       |ORDER BY n_members DESC, community LIMIT 20""".stripMargin

  /** The weighted-modularity kernel over an undirected incidence frame
    * (`node`, `nbr`, `wt` — BOTH directions present, so Σwt = 2m) and a
    * `labels` (node, lbl) partition, factored for the spec's planted
    * two-clique replay. Newman–Girvan modularity (Newman, PRE 69, 2004,
    * "Finding and evaluating community structure in networks"):
    *
    *   Q = Σ_c [ e_c/m − (d_c/2m)² ]
    *
    * evaluated in the ppm fixed point Σ_c [⌊intra2_c·10⁶ div m2⌋ −
    * ⌊d_c²·10⁶ div m2²⌋] with m2 = 2m and intra2_c = 2e_c (both
    * directions of an intra-community edge count once each) — every
    * quotient is of POSITIVE integers, two declared floors per community.
    * d_c²·10⁶ rides decimal(38,0)/HUGEINT (d_c ≤ m2, and m2²·10⁶
    * overflows int64 past m ≈ 3·10⁶ edges — the q290 rule). Returns ONE
    * row: n_nodes, n_communities, m2_w, q_ppm, top_size. */
  private[graft] def modularityRollup(und: DataFrame,
      labels: DataFrame): DataFrame = {
    val deg = und.groupBy("node").agg(sum("wt").as("deg_w"))
    val m2 = und.agg(sum("wt").as("m2"))
    val byNode = labels.select(col("node"), col("lbl").as("cl_a"))
    val byNbr = labels.select(col("node").as("nbr"), col("lbl").as("cl_b"))
    // the label frame is ≤|V| — the same broadcast the LPA rounds ride
    val intra = und.join(broadcast(byNode), Seq("node"))
      .join(broadcast(byNbr), Seq("nbr"))
      .filter(col("cl_a") === col("cl_b"))
      .groupBy(col("cl_a").as("lbl")).agg(sum("wt").as("intra_w2"))
    val dc = deg.join(broadcast(labels), Seq("node"))
      .groupBy("lbl")
      .agg(sum("deg_w").as("d_c"), count(lit(1)).as("n_members"))
    dc.join(intra, Seq("lbl"), "left")
      .na.fill(0L, Seq("intra_w2"))
      .crossJoin(broadcast(m2))
      .withColumn("contrib_ppm", expr(
        "intra_w2 * 1000000 div m2 - cast(cast(d_c as decimal(38,0)) * d_c" +
          " * 1000000 div (cast(m2 as decimal(38,0)) * m2) as bigint)"))
      .agg(sum("n_members").as("n_nodes"),
        count(lit(1)).as("n_communities"),
        max("m2").as("m2_w"),
        sum("contrib_ppm").as("q_ppm"),
        max("n_members").as("top_size"))
  }

  /** q305 modularity of the q272 LPA partition — the quality number for
    * the community structure q272 publishes: Newman–Girvan Q of the
    * 3-round label-propagation communities on the item-transition graph,
    * in exact ppm fixed point (see [[modularityRollup]]). Q near 0 means
    * the "communities" are no better than random wiring (don't build a
    * catalog on them); Q ≳ 0.3 is real structure. The number that turns
    * q272 from a partition dump into a go/no-go signal.
    *
    * Scale shape: rides the q272 machinery unchanged (Θ(rounds·|E|) LPA,
    * ≤|V| label frames); the modularity pass is one |E|-scan for
    * intra-community weight + two ≤|V| aggregates — strictly cheaper
    * than one extra LPA round. The oracle replays the IDENTICAL
    * partition (shared CTE chain) plus the same two-floor ppm algebra. */
  def q305(spark: SparkSession, dir: String): DataFrame = {
    // edges materialized ONCE as raw rows: without this the lead-window
    // pipeline re-ran per und consumer (review finding r16 — the
    // docstring's "one |E| scan" claim was false); the SharedFrames cache
    // (r17) makes the discovery itself once-per-session, and this scratch
    // copy keeps the 3 modularity consumers + 3 LPA rounds on raw-row
    // blocks instead of repeated CachedBatch decompression.
    // the LPA kernel takes no second checkpoint copy of this very frame
    // (scratch returns a live checkpoint unchanged; the r16 shape wrote a
    // redundant |E| copy per execution). The undirected frame itself
    // stays LAZY on purpose:
    // its union is free on top of the materialized edges, and an A/B at
    // ×10 measured eager-checkpointing the 2|E| frame SLOWER (min 31.4 vs
    // 18.8 s — block-store pressure beats the cheap re-read) — the r16
    // lesson that scratch is for expensive lineage, not every shared frame.
    val edges = Checkpoints.scratch(transitionEdges(spark, dir))
    val lbl = labelPropagation(edges, rounds = 3)
    val und = edges
      .select(col("src").as("node"), col("dst").as("nbr"), col("wt"))
      .union(edges.select(col("dst").as("node"), col("src").as("nbr"),
        col("wt")))
    modularityRollup(und, lbl)
  }

  val q305Sql: String =
    s"""WITH $lpaCtes, deg AS (
       |  SELECT node, CAST(SUM(wt) AS BIGINT) AS deg_w FROM und GROUP BY node
       |), m2t AS (
       |  SELECT CAST(SUM(wt) AS BIGINT) AS m2 FROM und
       |), intra AS (
       |  SELECT a.lbl, CAST(SUM(u.wt) AS BIGINT) AS intra_w2
       |  FROM und u
       |  JOIN l3 a ON a.node = u.node
       |  JOIN l3 b ON b.node = u.nbr
       |  WHERE a.lbl = b.lbl GROUP BY a.lbl
       |), dc AS (
       |  SELECT l.lbl, CAST(SUM(d.deg_w) AS BIGINT) AS d_c,
       |    COUNT(*) AS n_members
       |  FROM l3 l JOIN deg d ON d.node = l.node GROUP BY l.lbl
       |), comm AS (
       |  SELECT dc.lbl, dc.n_members, dc.d_c,
       |    COALESCE(i.intra_w2, 0) AS intra_w2
       |  FROM dc LEFT JOIN intra i ON i.lbl = dc.lbl
       |)
       |SELECT CAST(SUM(n_members) AS BIGINT) AS n_nodes,
       |  COUNT(*) AS n_communities,
       |  (SELECT m2 FROM m2t) AS m2_w,
       |  CAST(SUM(intra_w2 * 1000000 // (SELECT m2 FROM m2t)
       |    - CAST(CAST(d_c AS HUGEINT) * d_c * 1000000
       |        // (CAST((SELECT m2 FROM m2t) AS HUGEINT)
       |           * (SELECT m2 FROM m2t)) AS BIGINT)) AS BIGINT) AS q_ppm,
       |  CAST(MAX(n_members) AS BIGINT) AS top_size
       |FROM comm""".stripMargin

  /** Peel-round budget both engines evaluate for q275 (the q138 BFS
    * discipline: the engine EARLY-EXITS at the fixed point and synthesizes
    * the remaining rounds as identity rows — bit-equal to running the full
    * budget, because a peel round that removes nothing changes nothing).
    * A graph whose peeling needs more rounds reads the same declared
    * 8-round SNAPSHOT in both engines (the q272 fixed-round contract). */
  private[graft] val KCoreRounds = 8

  /** Synchronous k-core peeling census over a (src, dst) edge frame,
    * treated UNDIRECTED with DISTINCT neighbors (coreness is a property of
    * the simple graph; parallel edge weight is q124/q267/q272's concern,
    * not degeneracy's): each round simultaneously removes EVERY alive node
    * with fewer than k alive neighbors — including nodes isolated by prior
    * rounds (degree 0) — until the fixed point (the k-core, Seidman 1983,
    * "Network structure and minimum degree") or the round budget. When `k`
    * is None it SELF-CALIBRATES to the graph's integer mean degree
    * (Σdeg div |V| — the q264 adaptive-threshold discipline: a fixed k is
    * either below every fixture degree or above the collapse threshold,
    * and which one flips with corpus scale). Returns one census row per
    * round: (round, k, n_removed, removed_id_sum, n_alive) — the removal
    * chain pins the exact membership trajectory under the hash gate, and
    * the last row's n_alive is |k-core|.
    *
    * Scale shape: the undirected distinct-pair frame is checkpointed once;
    * each round is one alive-semi-join pair prune (two id-keyed joins), one
    * map-combined degree aggregate, and one 1-row census read — Θ(rounds·
    * |E|) with |V|-bounded shuffles, frames shrinking monotonically; per-
    * round frames are eagerly checkpointed and retired by [[Rounds]]. The
    * census rows themselves are driver-side (≤ rounds tuples), not a
    * collect of data rows, so even the last round's frames are freed
    * before the call returns. */
  def kCoreCensus(spark: SparkSession, rawEdges: DataFrame, k0: Option[Int],
      rounds: Int): DataFrame = {
    import spark.implicits._
    val eDir = Checkpoints.scratch(rawEdges.select("src", "dst"))
    // row counts ride the checkpoint jobs (observe accumulators) instead
    // of separate counting jobs over the just-written blocks
    val (und0, nUnd) = Checkpoints.scratchCount(
      eDir.select(col("src").as("node"), col("dst").as("nbr"))
        .union(eDir.select(col("dst").as("node"), col("src").as("nbr")))
        .distinct(), lit(true))
    val (alive0, nAlive0) =
      Checkpoints.scratchCount(und0.select("node").distinct(), lit(true))
    // mean degree = |und rows| div |V| (und holds one row per directed
    // distinct-neighbor incidence, so its count IS Σdeg)
    val k: Long = k0.map(_.toLong).getOrElse(
      if (nAlive0 == 0L) 1L else nUnd / nAlive0)
    type Census = Vector[(Long, Long, Long, Long, Long)]
    val init = Round((und0, alive0, nAlive0, Vector.empty: Census),
      Seq(und0, alive0))
    val (last, _) = Rounds.iterate(init, rounds) {
      case (s @ (und, alive, nAlive, census), r) =>
        val deg = und.groupBy("node").agg(count(lit(1)).as("deg"))
        // the removal census (count + id-sum) rides the removed frame's
        // checkpoint job via observe — no per-round census job
        val (removed, cr) = Checkpoints.scratchAgg(
          alive.join(deg.filter(col("deg") >= k).select("node"),
            Seq("node"), "left_anti"),
          Seq(count(lit(1)).as("n"),
            coalesce(sum(col("node")), lit(0L)).as("s")))
        val nRem = cr.getAs[Long]("n")
        if (nRem == 0L) Round(s, Seq(removed), more = false)
        else {
          val aliveNext = Checkpoints.scratch(
            alive.join(removed, Seq("node"), "left_anti"))
          val undNext = Checkpoints.scratch(
            und.join(removed, Seq("node"), "left_anti")
              .join(removed.select(col("node").as("nbr")),
                Seq("nbr"), "left_anti")
              .select("node", "nbr"))
          Round((undNext, aliveNext, nAlive - nRem,
            census :+ ((r.toLong, k, nRem, cr.getAs[Long]("s"), nAlive - nRem))),
            Seq(removed, aliveNext, undNext))
        }
    }
    Checkpoints.release(last.frames: _*)
    val (_, _, nAlive, census) = last.state
    // identity tail: the fixed point reached before the budget — the
    // remaining rounds remove nothing by definition, so synthesize them
    (census ++ (census.size + 1 to rounds).map(r => (r.toLong, k, 0L, 0L, nAlive)))
      .toDF("round", "k", "n_removed", "removed_id_sum", "n_alive")
  }

  /** q275 k-core peel census (new r14; Seidman 1983) — the fourth classic
    * over the q124/q267/q272 item-transition graph: where PageRank ranks,
    * HITS separates roles, and LPA partitions, the k-core isolates the
    * DENSELY-ENTANGLED sub-catalog (every member co-transitions with ≥ k
    * other core members) — the hub inventory a recommender or curriculum
    * seeds from, and the standard preprocessing cut before expensive graph
    * passes. k self-calibrates to the integer mean degree; on the
    * fixture's supercritical-RANDOM transition graph the mean-degree core
    * COLLAPSES (measured: 3 real peel rounds to empty at sf0.001/sf0.01/
    * ×10 — the Pittel–Spencer–Wormald cascade, a random graph has no core
    * above its threshold), and the census pins the exact collapse
    * trajectory; on a real power-law co-purchase graph the core survives
    * (GraphSpec plants a clique+pendant-chain graph and pins the surviving
    * clique). 8 synchronous peel rounds (fixed-point early exit, identity
    * tail); one row per round. The oracle unrolls the identical 8 rounds
    * as materialized CTEs with the same scalar-subquery k. */
  /** STREAMING leg of the graph family (r14 VERDICT #7 — the k-core/LPA
    * group was the only new operator family without one): the stream
    * appends per-batch DISTINCT-EDGE digests — the cusumStream /
    * sessionDigestStream LSM discipline (batch-dir overwrite =
    * replay-idempotent under foreachBatch's at-least-once retries) — and
    * the peel assembles MERGE-ON-READ. The mergeable object is the edge
    * SET, deliberately not a degree count: coreness is defined on the
    * simple graph (DISTINCT neighbors), so per-batch degree counts are
    * not additive when an edge recurs across batches — set union is the
    * exact merge, and the read-side distinct collapses re-deliveries.
    * Readers pay |digest edges|, never a source rescan; the peel itself
    * is the identical [[kCoreCensus]], so stream == batch bit-for-bit
    * (StreamingSpec pins it against q275). */
  def kcoreEdgeDigestStream(spark: SparkSession, edgeStream: DataFrame,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    edgeStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.toDF().select("src", "dst")
          .filter(col("src") =!= col("dst"))
          .distinct()
          .write.mode("overwrite").parquet(s"$outDir/batch-$id")
      }
      .start()

  /** Assemble the k-core census from persisted edge digests (glob paths
    * welcome). Edges recurring across batches collapse in the distinct —
    * the set-union merge that makes the digest exact. */
  def kCoreReadMerged(spark: SparkSession, dirs: Seq[String]): DataFrame =
    kCoreCensus(spark,
      dirs.map(d => spark.read.parquet(d)).reduce(_ unionByName _)
        .select("src", "dst").distinct(),
      None, KCoreRounds).orderBy("round")

  def q275(spark: SparkSession, dir: String): DataFrame =
    // the weighted frame's (src, dst) key set IS the distinct pair set the
    // old inline window + DISTINCT built (a groupBy's keys are distinct by
    // construction) — same graph, one shared discovery
    kCoreCensus(spark, transitionEdges(spark, dir).select("src", "dst"),
      None, KCoreRounds).orderBy("round")

  val q275Sql: String = {
    val rounds = (1 to KCoreRounds).map { i =>
      s"""e$i AS MATERIALIZED (
         |  SELECT u.node, u.nbr FROM und u
         |  JOIN a${i - 1} x ON x.node = u.node
         |  JOIN a${i - 1} y ON y.node = u.nbr
         |), d$i AS MATERIALIZED (
         |  SELECT node, COUNT(*) AS deg FROM e$i GROUP BY 1
         |), r$i AS MATERIALIZED (
         |  SELECT a.node FROM a${i - 1} a
         |  LEFT JOIN d$i d ON d.node = a.node
         |  WHERE COALESCE(d.deg, 0) < (SELECT k FROM kv)
         |), a$i AS MATERIALIZED (
         |  SELECT a.node FROM a${i - 1} a
         |  LEFT JOIN r$i r ON r.node = a.node
         |  WHERE r.node IS NULL
         |), c$i AS MATERIALIZED (
         |  SELECT CAST($i AS BIGINT) AS round,
         |    (SELECT CAST(k AS BIGINT) FROM kv) AS k,
         |    CAST(COUNT(node) AS BIGINT) AS n_removed,
         |    CAST(COALESCE(SUM(node), 0) AS BIGINT) AS removed_id_sum,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM a$i) AS n_alive
         |  FROM r$i
         |)""".stripMargin
    }.mkString(", ")
    val union = (1 to KCoreRounds)
      .map(i => s"SELECT * FROM c$i").mkString("\n  UNION ALL ")
    s"""WITH hop AS (
       |  SELECT l_partkey AS pk,
       |    lead(l_partkey) OVER (PARTITION BY l_orderkey
       |      ORDER BY l_linenumber, l_partkey) AS dst
       |  FROM lineitem
       |), und AS MATERIALIZED (
       |  SELECT DISTINCT pk AS node, dst AS nbr FROM hop
       |  WHERE dst IS NOT NULL AND dst <> pk
       |  UNION
       |  SELECT DISTINCT dst, pk FROM hop
       |  WHERE dst IS NOT NULL AND dst <> pk
       |), a0 AS MATERIALIZED (
       |  SELECT DISTINCT node FROM und
       |), kv AS MATERIALIZED (
       |  SELECT CASE WHEN (SELECT COUNT(*) FROM a0) = 0 THEN 1
       |    ELSE (SELECT COUNT(*) FROM und) // (SELECT COUNT(*) FROM a0)
       |  END AS k
       |), $rounds
       |SELECT * FROM (
       |  $union
       |) ORDER BY round""".stripMargin
  }

  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("q124_pagerank", q124 _, Some(q124Sql)),
    ("q256_seeded_pagerank", q256 _, Some(q256Sql)),
      ("q136_triangles", q136 _, Some(q136Sql)),
      ("q138_bfs_hops", q138 _, Some(q138Sql)),
      ("q146_assortativity", q146 _, Some(q146Sql)),
      ("q267_hits", q267 _, Some(q267Sql)),
      ("q272_label_propagation", q272 _, Some(q272Sql)),
      ("q305_lpa_modularity", q305 _, Some(q305Sql)),
      ("q275_kcore_census", q275 _, Some(q275Sql)))
}
