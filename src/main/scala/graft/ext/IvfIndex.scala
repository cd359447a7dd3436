package graft.ext

import graft.ext.Ckpt._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF (inverted-file) ANN index pieces (SURVEY.md §2B X3): k-means
  * centroid training via Lloyd's iterations and cell assignment, all
  * joins + aggregations — no UDFs, no driver-side math.
  *
  * Scale posture: training assignment runs over a deterministic SAMPLE
  * (`idCol % sampleStride == 0`), so per-iteration cost is
  * O(|sample| * k) regardless of corpus size; only the final index
  * assignment touches every vector once (inherent to building an IVF
  * index — this is the standard train-on-sample/assign-all split).
  * Centroids are broadcast (k * dim doubles), never shuffled.
  *
  * Determinism contract (the oracle hash-compares trained results):
  * centroid updates sum components as ROUND(x * 1e6) BIGINTs — integer
  * addition is order-independent, so the mean (sum/cnt/1e6 in double
  * space) is bit-identical across engines and partitionings, unlike a
  * raw double SUM. Quantizing the mean to 1e-6 loses nothing real: the
  * inputs are float32 embeddings with ~7 significant digits.
  */
object IvfIndex {

  /** SCALE NOTE (three measured boundaries, all now closed): round 7's
    * FLAT assignment scored every (vector, cell) pair — O(n²/256) with
    * the n/256 cell rule, measured 19.7× for 10× data at sf1→sf10.
    * Round 8's two-level coarse quantizer (√k super-cells) cut that to
    * O(n·√k) = O(n^1.5), measured 2.6× at sf1→sf10 but 12.8× at
    * sf10→sf100 — still superlinear. [[assignCells]] now routes through
    * a LOG-DEPTH TREE ([[buildTree]]): strided-pick levels of fanout
    * [[TreeFanout]] over the fine codebook, cosine parent maps, and a
    * greedy beam-[[DefaultBeam]] descent — O(n·log k) corpus-side work
    * (the NSW/ANNOY-style coarse front every production ANN system
    * converges on). Round 10 closed the last boundary, the MODEL side:
    * parent maps were built by flat nearest-among-next-level scoring,
    * Σ|lvl|·|lvl+1| ≈ 0.27·k² pairs — negligible below ~5M vectors but
    * a real quadratic at the 1e8–1e9 vectors 100 TB implies. [[buildTree]]
    * now builds levels TOP-DOWN by ROUTED INSERTION (HNSW-style): each
    * level's parent map is found by descending the already-built upper
    * tree under the same beam contract, so construction is
    * O(k·beam·fanout·log k) total. Routed and flat coincide whenever the
    * descent's frontier covers the whole parent level (k ≲ 128 — every
    * oracle-gated SF), and RoutedBuildSpec pins the selective regime
    * (k=512) against a driver-side reference replay.
    *
    * Cell count targeting ~256 vectors per cell (min 8 cells). With
    * probes fixed (default 5), per-query candidate work is ~probes*256
    * vectors at ANY corpus size — the index grows cells, not cell size.
    * Chosen empirically against this corpus: the synthetic embeddings are
    * ISOTROPIC (measured: median pairwise cos ~0.001, top-3 neighbor cos
    * ~0.4 — pairwise-close points, no cluster structure), which is the
    * worst case for any partition-pruning ANN; finer grids (sqrt(n)
    * cells) dropped recall@3 to 0.33 at sf0.1, while 256-vector cells
    * with probe-5 hold 0.87. Real embedding corpora cluster, where the
    * same machinery prunes far harder; k and probes are explicit
    * parameters for that reason. Integer-only arithmetic — no
    * ceil(sqrt()) floating-point edge to mirror.
    */
  def cellCount(n: Long): Long = math.max(8L, n / 256L)

  /** Query-time probe count paired with [[cellCount]]. */
  val DefaultProbes = 5

  /** Routing-tree fanout: level ℓ+1 keeps every TreeFanout-th node of
    * level ℓ (by cid rank — pure integer picks, so both engines choose
    * the same rows; the stride-init move applied recursively). Sizes
    * shrink ⌈s/4⌉ per level, so depth is ⌈log₄ k⌉.
    */
  val TreeFanout = 4

  /** Beam width of the greedy descent: how many nodes survive the
    * per-vector ranking at each tree level. Per-vector assignment work is
    * ~[[DefaultBeam]]·[[TreeFanout]]·log₄(k) scored pairs. Swept against
    * this corpus's measured isotropy (BENCH_sf10.md, "Round-9: the
    * LOG-DEPTH TREE": the recall contract and the declined beam-16 row):
    * at sf0.1 (k=8, depth 1) the descent is EXHAUSTIVE — beam 8 > every level —
    * so recall@3 = 0.867, bit-identical to the flat index; at sf1 (k=78,
    * depth 3) the beam-8 fine frontier is ~32 of 78 cells and recall@3
    * measures 0.500 — ABOVE the round-8 two-level route's 0.367 at the
    * same per-vector cost, because the tree's geometric refinement beats
    * one flat √k cut on this isotropic corpus.
    */
  val DefaultBeam = 8

  /** Fixed level-count of the ORACLE's unrolled tree SQL. The Scala side
    * builds only the non-degenerate levels (size > 1) and starts the
    * descent at the highest one; the SQL unrolls all [[MaxLevels]], where
    * levels past the natural depth hold a single node — every child maps
    * to it and the beam passes straight through, so the two descents are
    * provably identical (a frontier that reaches a size-1 level expands
    * to ALL of the next level, which is exactly the Scala starting
    * frontier). 10 levels cover k ≤ 4^10 ≈ 1.05M cells ≈ 2.7e8 vectors
    * under the n/256 rule; past that both sides start at level 10.
    */
  val MaxLevels = 10

  /** The routing tree over a materialized fine codebook: `top` is the
    * highest non-degenerate level (cid, cv, cn — always ≤ [[TreeFanout]]
    * nodes unless k > 4^[[MaxLevels]]), `steps(ℓ)` for ℓ in 1..start maps
    * a frontier node at level ℓ (pcid) to its children at level ℓ-1 with
    * their vectors (ccid, ccv, ccn) — each a bounded local relation the
    * descent broadcasts. `steps(0)` is unused (padding so indices align).
    */
  final case class RoutingTree(top: DataFrame, steps: IndexedSeq[DataFrame], start: Int)

  /** Rank of each (vector, centroid) pair per vector: 1 = nearest. */
  private def ranked(vec: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("__vid").orderBy(desc("cos_c"), asc("cid"))
    vec
      .crossJoin(broadcast(cent))
      .withColumn("cos_c", Vectors.dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("rk_c", row_number().over(w))
  }

  /** Lloyd's k-means over `vec` (columns: idCol, v: array<double>,
    * nrm: double; ids assumed ~dense in [0, n)). Callers size k with
    * [[cellCount]] (max(8, n/256) — chosen over sqrt(n), whose cells
    * measured far worse recall on this corpus; see cellCount's doc);
    * init = stride sampling over the id space (`idCol % (n/k) == 0`);
    * `iters` update rounds over the <=1024-vector training sample.
    * Returns (cid, cv, cn). Cells that lose all sample members disappear
    * (mirrored by the oracle).
    */
  def trainCentroids(
      vec: DataFrame,
      idCol: String,
      dim: Int,
      n: Long,
      iters: Int): DataFrame =
    trainCentroidsK(vec, idCol, dim, n, cellCount(n), iters)

  /** As [[trainCentroids]] with an explicit cell count. */
  def trainCentroidsK(
      vec: DataFrame,
      idCol: String,
      dim: Int,
      n: Long,
      k: Long,
      iters: Int): DataFrame = {
    val stride = math.max(1L, n / k)
    val sampleStride = math.max(1L, n / 1024)
    var cent = vec
      .filter(col(idCol) % stride === 0)
      .select((col(idCol) / stride).cast(LongType).as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    // materialize the bounded (~1024-row) training sample ONCE: every
    // Lloyd iteration joins against it, and iteration i's centroid plan
    // nests iteration i-1's whole DAG — without truncation each pass
    // re-reads and re-transforms the full vector scan per iteration
    val sample = vec.filter(col(idCol) % sampleStride === 0)
      .withColumnRenamed(idCol, "__vid")
      .ckpt()
    for (_ <- 1 to iters) {
      val assigned = ranked(sample, cent)
        .filter(col("rk_c") === 1)
        .select(col("cid"), col("v"))
      val sums = (0 until dim).map(i =>
        sum(round(get(col("v"), lit(i)) * 1e6).cast(LongType)).as(s"s$i")) :+
        count(lit(1)).as("cnt")
      val aggd = assigned.groupBy("cid").agg(sums.head, sums.tail: _*)
      val cxs = (0 until dim).map(i =>
        col(s"s$i").cast(DoubleType) / col("cnt").cast(DoubleType) / 1e6)
      cent = aggd
        .select(col("cid"), array(cxs: _*).as("cv"))
        .withColumn("cn", Vectors.l2Norm(col("cv")))
    }
    cent
  }

  /** Materialize trained centroids as a local-relation "model" (bounded:
    * k rows of dim doubles — the IVF analogue of a fitted KMeans model
    * object). Evaluates the training DAG exactly once; downstream
    * assignment plans stay shallow and the broadcast ships a
    * LocalRelation instead of re-running training per consumer.
    */
  def materialize(s: org.apache.spark.sql.SparkSession, cent: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(cent.collect().toSeq.asJava, cent.schema)
  }

  /** Build the routing tree over a MATERIALIZED fine codebook `cent`
    * (cid, cv, cn). Levels are strided picks (every [[TreeFanout]]-th
    * node by cid rank — pure integer choices computed driver-side from
    * the bounded model, so both engines choose the same rows); each
    * level-(ℓ-1) node then maps to a nearby level-ℓ parent by cosine
    * (tie: lowest parent cid).
    *
    * ROUTED INSERTION (round 10 — the flat Σ|lvl|·|lvl+1| ≈ 0.27·k²
    * nearest-among-next-level scoring was the suite's last named
    * quadratic): steps are built TOP-DOWN, and level ℓ's parent map is
    * found by descending the ALREADY-BUILT upper steps (start..ℓ+1) with
    * the same beam-[[DefaultBeam]] contract [[assignCellsTree]] uses for
    * vectors — rank the whole top level, keep the beam, expand each kept
    * node to its step children, re-rank — so construction is
    * O(k·beam·fanout·log k) scored pairs total. For ℓ = start the
    * descent degenerates to flat ranking against the whole top level,
    * and whenever the expanding frontier covers the entire parent level
    * (every level ≤ beam·fanout ⇒ k ≲ 128 — all oracle-gated SFs)
    * routed ≡ flat exactly; RoutedBuildSpec pins the selective regime
    * against a driver-side reference replay. A node whose beam-routed
    * frontier dies (every kept parent childless at the next step) drops
    * out of the tree with its subtree — the standard HNSW
    * reachability-for-cost trade, deterministic and mirrored exactly by
    * the oracle's unrolled SQL. Each step is re-materialized as a local
    * relation so descent plans broadcast bounded models instead of
    * re-running the derivation, and every ranking window here is over
    * narrow (ccid, fcid, cos) rows — the child vector re-attaches by a
    * co-partitioned join, the same wide-sort lesson the corpus descent
    * records.
    */
  def buildTree(s: org.apache.spark.sql.SparkSession, cent: DataFrame): RoutingTree = {
    import scala.jdk.CollectionConverters._
    val fine = cent.collect().sortBy(_.getLong(0)) // by cid — cent is a bounded local relation
    // levels(0) = fine codebook; shrink by TreeFanout until 1 node or MaxLevels
    val levels = Iterator
      .iterate(fine)(lv => lv.zipWithIndex.collect { case (r, i) if i % TreeFanout == 0 => r })
      .take(MaxLevels + 1)
      .takeWhile(_.length >= 1)
      .toIndexedSeq
    // start = highest level with >1 node (capped at MaxLevels); levels
    // above it are single-node and provably pass the beam through
    val start = math.max(1, levels.lastIndexWhere(_.length > 1))
    val parts = s.sessionState.conf.numShufflePartitions
    def local(rows: Array[org.apache.spark.sql.Row]): DataFrame =
      s.createDataFrame(rows.toSeq.asJava, cent.schema)
    val top = local(levels(start))
    val wm = Window.partitionBy("ccid").orderBy(desc("cos_p"), asc("fcid"))
    val built = new Array[DataFrame](start + 1)
    for (l <- start to 1 by -1) {
      // fresh local relation per use — self-join-safe attribute ids
      def child: DataFrame = local(levels(l - 1))
        .select(col("cid").as("ccid"), col("cv").as("chv"), col("cn").as("chn"))
        .repartition(parts, col("ccid"))
      // initial frontier: rank the whole top level per child (for
      // l == start this IS the final ranking — routed ≡ flat at the top)
      var fr = child
        .crossJoin(broadcast(top.select(
          col("cid").as("fcid"), col("cv").as("fv"), col("cn").as("fn"))))
        .withColumn("cos_p", Vectors.dot(col("chv"), col("fv")) / (col("chn") * col("fn")))
        .select("ccid", "fcid", "cos_p") // narrow BEFORE the rank
        .withColumn("rk_p", row_number().over(wm))
      for (u <- start until l by -1) { // descend the built steps to level l
        val stepU = built(u).select(
          col("pcid").as("fcid"), col("ccid").as("ncid"),
          col("ccv").as("nv"), col("ccn").as("nn"))
        fr = fr.filter(col("rk_p") <= DefaultBeam)
          .select("ccid", "fcid")
          .join(broadcast(stepU), Seq("fcid"))
          .join(child, Seq("ccid")) // co-partitioned by ccid (post-window)
          .withColumn("cos_p", Vectors.dot(col("chv"), col("nv")) / (col("chn") * col("nn")))
          .select(col("ccid"), col("ncid").as("fcid"), col("cos_p")) // narrow
          .withColumn("rk_p", row_number().over(wm))
      }
      built(l) = materialize(s, fr.filter(col("rk_p") === 1)
        .join(child, Seq("ccid"))
        .select(col("fcid").as("pcid"), col("ccid"),
          col("chv").as("ccv"), col("chn").as("ccn")))
    }
    // steps(0) pads; steps(l) serves level l
    RoutingTree(top, top +: (1 to start).map(built), start)
  }

  /** Assign every vector to its `probes` nearest cells (probes=1 builds
    * the index; probes>1 is multi-probe query expansion). Output:
    * idCol, cell, v, nrm — one row per (vector, probed cell).
    *
    * LOG-DEPTH DESCENT: each vector scores the ≤[[TreeFanout]] top-level
    * nodes, keeps its [[DefaultBeam]] best, then repeatedly expands the
    * frontier to the kept nodes' children (one broadcast join per level)
    * and re-ranks — O(beam·fanout·log₄ k) scored pairs per vector
    * instead of the two-level O(√k) that measured 12.8× for 10× data at
    * sf10→sf100.
    *
    * Plan shape, the part that actually decides the wall clock: the
    * corpus is materialized ONCE, hash-partitioned and sorted by vector
    * id (one exchange, total), and every level is then
    * [narrow (id, node) frontier] ⋈ [that materialized corpus]
    * ⋈ [broadcast child model] → cosine → NARROW (id, node, cos) ranking
    * window — all exchange-free under the established partitioning, and
    * every per-level sort is over ~beam·fanout 24-byte rows per vector.
    * The first cut of this descent carried the 512-byte vector THROUGH
    * the ranking windows instead: ~35 GB of wide local sort per level at
    * sf100, measured 246.9 s for the whole lane vs 161.2 s for the
    * round-8 two-level — an asymptotic win losing to a constant. Keeping
    * windows narrow is the same lesson the two-level pass already
    * recorded; IvfSpec pins the exchange count so a regression that
    * re-shuffles per level fails loudly. A routing miss at any level
    * loses that subtree — the same recall-for-cost trade as the fine
    * probes themselves, swept (BENCH_sf10.md, round-9 recall contract)
    * and mirrored exactly by the oracle, which replays the identical
    * deterministic route.
    */
  def assignCells(vec: DataFrame, idCol: String, cent: DataFrame, probes: Int): DataFrame =
    assignCellsTree(vec, idCol, buildTree(vec.sparkSession, cent), probes)

  /** As [[assignCells]] with an explicit pre-[[buildTree]]'d model — call
    * sites that assign twice (corpus build + query expansion) build the
    * tree once and share it.
    *
    * CACHE RETENTION (caller-facing): the id-partitioned corpus below is
    * `.cache()`d and stays pinned for the LIFETIME OF THE RETURNED PLAN —
    * it cannot be unpersisted here because the result still references it
    * lazily, and an InMemoryRelation is the only materialization that
    * preserves partitioning+ordering across the descent levels (a
    * localCheckpoint reports UnknownPartitioning in Spark 4, measured —
    * every level would re-exchange). The ContextCleaner reaps it once the
    * plan goes unreferenced; a long-lived session running MANY invocations
    * (a bench sweep) should bound retention explicitly by calling
    * `spark.catalog.clearCache()` between independent invocations once
    * each result is materialized — Verify/Bench do exactly that.
    */
  def assignCellsTree(
      vec: DataFrame,
      idCol: String,
      tree: RoutingTree,
      probes: Int): DataFrame = {
    val parts = vec.sparkSession.sessionState.conf.numShufflePartitions
    // the ONE exchange + ONE materialization: id-partitioned, id-sorted,
    // CACHED — InMemoryRelation preserves partitioning AND ordering (a
    // localCheckpoint does not: Spark 4 reports UnknownPartitioning on
    // the checkpointed RDD, measured — every level would re-exchange),
    // so every level's re-attach join and ranking window below run
    // exchange-free on the cached columnar copy, and the ContextCleaner
    // reaps the cache when the plan goes unreferenced.
    val v0 = vec
      .withColumnRenamed(idCol, "__vid")
      .repartition(parts, col("__vid"))
      .sortWithinPartitions("__vid")
      .cache()
    val w = Window.partitionBy("__vid").orderBy(desc("cos_t"), asc("ccid"))
    var fr = v0
      .crossJoin(broadcast(tree.top.select(
        col("cid").as("ccid"), col("cv").as("ccv"), col("cn").as("ccn"))))
      .withColumn("cos_t", Vectors.dot(col("v"), col("ccv")) / (col("nrm") * col("ccn")))
      .select("__vid", "ccid", "cos_t") // narrow BEFORE the rank
      .withColumn("rk_t", row_number().over(w))
      .filter(col("rk_t") <= DefaultBeam)
      .select("__vid", "ccid")
    for (lvl <- tree.start to 1 by -1) {
      val keep = if (lvl == 1) probes else DefaultBeam
      fr = fr
        .select(col("__vid"), col("ccid").as("pcid"))
        .join(v0, Seq("__vid")) // co-partitioned, v0 side pre-sorted
        .join(broadcast(tree.steps(lvl)), Seq("pcid"))
        .withColumn("cos_t", Vectors.dot(col("v"), col("ccv")) / (col("nrm") * col("ccn")))
        .select("__vid", "ccid", "cos_t") // narrow BEFORE the rank
        .withColumn("rk_t", row_number().over(w))
        .filter(col("rk_t") <= keep)
        .select("__vid", "ccid")
    }
    fr.join(v0, Seq("__vid"))
      .select(col("__vid").as(idCol), col("ccid").as("cell"), col("v"), col("nrm"))
  }

  /** DuckDB image of the whole train+assign pipeline, generated so the
    * oracle replays the identical iterations. `m` must be a CTE named
    * `m(vec_id, v, nrm)`; emits CTE clauses ending with `cent(cid, cv,
    * cn)` and `asg(vec_id, cell, v, nrm)` (probes=1) /
    * `qasg` (probes=`probes`).
    */
  def oracleCtes(dim: Int, iters: Int, probes: Int): String =
    oracleCtes(dim, iters, probes, None)

  /** As the 3-arg form; `kFixed` pins the cell count instead of the
    * n/256 sizing rule — the audit-lane variant (silhouette_cells uses a
    * FIXED 64-cell codebook so the audit stays O(n·64) at any corpus
    * size, where the index's own n/256 rule makes assignment O(n²/256)
    * — measured 16.5× for 10× data at sf1→sf10).
    */
  def oracleCtes(dim: Int, iters: Int, probes: Int, kFixed: Option[Long]): String = {
    val sums = (0 until dim)
      .map(i => s"SUM(CAST(round(v[${i + 1}] * 1000000.0) AS BIGINT)) AS s$i")
      .mkString(", ")
    val cxs = (0 until dim)
      .map(i => s"CAST(s$i AS DOUBLE) / CAST(cnt AS DOUBLE) / 1000000.0")
      .mkString(", ")
    // log-depth tree descent, the [[assignCellsTree]] mirror — the SQL
    // unrolls all MaxLevels (degenerate single-node levels pass the beam
    // straight through, see MaxLevels' doc), and asg/qasg SHARE the
    // descent: they differ only in the final keep over the fine ranking
    val kExpr = kFixed.map(_.toString).getOrElse("greatest(8, COUNT(*) // 256)")
    val init =
      s"""params AS (SELECT COUNT(*) AS n, $kExpr AS k FROM m),
         |strv AS (SELECT greatest(1, n // k) AS stride, greatest(1, n // 1024) AS sstride FROM params),
         |c0 AS (SELECT vec_id // (SELECT stride FROM strv) AS cid, v AS cv, nrm AS cn FROM m
         |  WHERE vec_id % (SELECT stride FROM strv) = 0),
         |samp AS (SELECT * FROM m WHERE vec_id % (SELECT sstride FROM strv) = 0)""".stripMargin
    val iterSql = (1 to iters).map { it =>
      val prev = s"c${it - 1}"
      s"""a$it AS (SELECT cid, v FROM (
         |  SELECT s.vec_id, c.cid, s.v,
         |    ROW_NUMBER() OVER (PARTITION BY s.vec_id
         |      ORDER BY list_dot_product(s.v, c.cv) / (s.nrm * c.cn) DESC, c.cid) AS rk
         |  FROM samp s CROSS JOIN $prev c) WHERE rk = 1),
         |g$it AS (SELECT cid, COUNT(*) AS cnt, $sums FROM a$it GROUP BY cid),
         |c$it AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM (
         |  SELECT cid, [$cxs] AS cv FROM g$it))""".stripMargin
    }.mkString(",\n")
    // routing-tree levels over the fine codebook ([[buildTree]] mirror):
    // strided picks by cid rank (pure integer choices)
    val levelSql = (1 to MaxLevels).map { l =>
      val prev = if (l == 1) "cent" else s"lv${l - 1}"
      s"""lv$l AS MATERIALIZED (SELECT cid, cv, cn FROM (
         |  SELECT cid, cv, cn, ROW_NUMBER() OVER (ORDER BY cid) - 1 AS r FROM $prev)
         |  WHERE r % $TreeFanout = 0)""".stripMargin
    }.mkString(",\n")
    // parent maps by ROUTED INSERTION, TOP-DOWN ([[buildTree]] mirror):
    // cent/lv/st are MATERIALIZED because DuckDB inlines plain CTEs per
    // reference — with 55 bs stages each referencing model CTEs, inlining
    // multiplies the upstream tree combinatorially (measured: "too many
    // open files" on the embeddings scan); materializing pins each model
    // relation to ONE evaluation, which is also what the Scala side's
    // materialize() does
    // st$l's children descend the already-defined upper steps with the
    // same beam contract — rank vs the (single-node past the natural
    // depth, provably pass-through) top, keep the beam, expand via each
    // st$u, re-rank — and the parent is the rank-1 of the level-l
    // frontier. bs${l}_$u = the frontier of st$l's build at level u.
    val stepSql = (MaxLevels to 1 by -1).map { l =>
      val prev = if (l == 1) "cent" else s"lv${l - 1}"
      val init =
        s"""bs${l}_$MaxLevels AS (SELECT ccid, fcid, rk FROM (
           |  SELECT c.cid AS ccid, p.cid AS fcid,
           |    ROW_NUMBER() OVER (PARTITION BY c.cid
           |      ORDER BY list_dot_product(c.cv, p.cv) / (c.cn * p.cn) DESC, p.cid) AS rk
           |  FROM $prev c CROSS JOIN lv$MaxLevels p) WHERE rk <= $DefaultBeam)""".stripMargin
      val expands = (MaxLevels to l + 1 by -1).map { u =>
        s"""bs${l}_${u - 1} AS (SELECT ccid, fcid, rk FROM (
           |  SELECT f.ccid, s.ccid AS fcid,
           |    ROW_NUMBER() OVER (PARTITION BY f.ccid
           |      ORDER BY list_dot_product(c.cv, s.ccv) / (c.cn * s.ccn) DESC, s.ccid) AS rk
           |  FROM bs${l}_$u f JOIN st$u s ON s.pcid = f.fcid
           |  JOIN $prev c ON c.cid = f.ccid) WHERE rk <= $DefaultBeam)""".stripMargin
      }
      val fin =
        s"""st$l AS MATERIALIZED (SELECT f.fcid AS pcid, c.cid AS ccid, c.cv AS ccv, c.cn AS ccn
           |  FROM bs${l}_$l f JOIN $prev c ON c.cid = f.ccid WHERE f.rk = 1)""".stripMargin
      (init +: expands :+ fin).mkString(",\n")
    }.mkString(",\n")
    // beam descent ([[assignCellsTree]] mirror): score the top level,
    // keep DefaultBeam, expand each kept node to its children and re-rank
    val descSql = {
      val topStage =
        s"""dsc$MaxLevels AS (SELECT vec_id, ccid FROM (
           |  SELECT m.vec_id, p.cid AS ccid,
           |    ROW_NUMBER() OVER (PARTITION BY m.vec_id
           |      ORDER BY list_dot_product(m.v, p.cv) / (m.nrm * p.cn) DESC, p.cid) AS rk
           |  FROM m CROSS JOIN lv$MaxLevels p) WHERE rk <= $DefaultBeam)""".stripMargin
      val mids = (MaxLevels to 2 by -1).map { l =>
        s"""dsc${l - 1} AS (SELECT vec_id, ccid FROM (
           |  SELECT f.vec_id, s.ccid,
           |    ROW_NUMBER() OVER (PARTITION BY f.vec_id
           |      ORDER BY list_dot_product(m.v, s.ccv) / (m.nrm * s.ccn) DESC, s.ccid) AS rk
           |  FROM dsc$l f JOIN st$l s ON s.pcid = f.ccid
           |  JOIN m ON m.vec_id = f.vec_id) WHERE rk <= $DefaultBeam)""".stripMargin
      }.mkString(",\n")
      val fine =
        s"""dscf AS (
           |  SELECT f.vec_id, s.ccid AS cell,
           |    ROW_NUMBER() OVER (PARTITION BY f.vec_id
           |      ORDER BY list_dot_product(m.v, s.ccv) / (m.nrm * s.ccn) DESC, s.ccid) AS rk
           |  FROM dsc1 f JOIN st1 s ON s.pcid = f.ccid
           |  JOIN m ON m.vec_id = f.vec_id)""".stripMargin
      s"$topStage,\n$mids,\n$fine"
    }
    val finals =
      s"""cent AS MATERIALIZED (SELECT cid, cv, cn FROM c$iters),
         |$levelSql,
         |$stepSql,
         |$descSql,
         |asg AS (SELECT d.vec_id, d.cell, m.v, m.nrm FROM dscf d
         |  JOIN m ON m.vec_id = d.vec_id WHERE d.rk <= 1),
         |qasg AS (SELECT d.vec_id, d.cell, m.v, m.nrm FROM dscf d
         |  JOIN m ON m.vec_id = d.vec_id WHERE d.rk <= $probes)""".stripMargin
    s"$init,\n$iterSql,\n$finals"
  }
}
