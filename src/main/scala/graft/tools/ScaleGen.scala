package graft.tools

import graft.Session
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a driver testdata dir: replicate every table
  * `copies`× with referential-integrity-preserving key shifts, so the full
  * Verify + DuckDB-oracle + Bench gate can run at sf1 (and beyond) and the
  * repo's 100 TB design claims become measurements instead of plan audits.
  *
  * Replication rules (replica r of `copies`, stride S = 1e9 > any key):
  *
  *   - fixed-size dimensions (`region`, `nation`) are copied as-is — they
  *     are constant-cardinality in TPC-H for the same reason they would be
  *     at 100 TB;
  *   - every entity key and the foreign keys that reference it shift by
  *     the SAME r·S (customer/orders, part+supplier/lineitem,
  *     events.user_id, documents.doc_id, embeddings.vec_id), so each
  *     replica is a self-contained copy of the join graph — per-key group
  *     sizes, join fan-outs and filter selectivities are scale-invariant,
  *     which is exactly the property a linear-scaling measurement needs;
  *   - content that feeds SIMILARITY operators must NOT collide across
  *     replicas, or the measurement stops being a scale-up and becomes a
  *     duplicate-mass explosion (10 identical copies of every supplier
  *     name would grow fuzzy-match candidate pairs ~50×, identical texts
  *     would fuse every shingle/LSH bucket): document tokens get a
  *     per-replica suffix (a bijective token map preserves every
  *     within-replica shingle-overlap ratio exactly), supplier names get a
  *     per-replica suffix, and embeddings are cyclically rotated by r
  *     dimensions (norm- and within-replica-distance-preserving, while
  *     cross-replica cosine structure is scrambled);
  *   - `documents.n_chars` is recomputed from the rewritten text, keeping
  *     the generator invariant n_chars == length(text);
  *   - `events.ts` is read via [[graft.Tables.events]] (which normalizes
  *     every parquet shape the driver has shipped — nanos-as-long, NTZ
  *     micros, tz-aware micros — to the instant type) and written as real
  *     TIMESTAMP(MICROS), so queries see identical instants on either
  *     layout.
  *
  * Everything is a pure column transform over an `explode(sequence)` — one
  * distributed pass per table, no driver-side loops, no randomness (the
  * output is a function of the input alone, so regeneration is
  * reproducible bit-for-bit at the row level).
  *
  * Usage: runMain graft.tools.ScaleGen <inDir> <outDir> [copies=10]
  */
object ScaleGen {

  private val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local()
    try generate(spark, inDir, outDir, copies)
    finally spark.stop()
  }

  def generate(spark: SparkSession, inDir: String, outDir: String, copies: Int): Unit = {
    def in(name: String): DataFrame = spark.read.parquet(s"$inDir/$name.parquet")

    // COMPOSITION GUARD. Running ScaleGen on its own output silently
    // corrupts the scale-up in two ways (caught in round 7 when a
    // two-level sf10 profiled 23x faster than the round-6 one-level sf10):
    // (1) keys: replica r2 of a level-1 replica r1 lands on r1+r2 — the
    // SAME key as (r1', r2') with r1'+r2' = r1+r2, so orders/parts merge
    // across replicas and distinct-(order, part) baskets DEDUPE instead
    // of scaling; (2) embeddings: the rotation composes additively too,
    // so same-sum replica pairs carry IDENTICAL vectors — duplicate mass,
    // not scale. Always generate a target SF in ONE level from the base
    // driver dir (copies=100 for sf10, 1000 for sf100).
    val maxKey = Seq(
      "customer" -> "c_custkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "part" -> "p_partkey",
      "documents" -> "doc_id", "embeddings" -> "vec_id")
      .map { case (t, k) =>
        in(t).agg(max(col(k).cast("long"))).head().getLong(0) }
      .max
    require(maxKey < Stride,
      s"input $inDir max key $maxKey >= stride $Stride — this is ScaleGen " +
        "output; re-run one-level from the base driver dir (see scaladoc)")

    // one row per (input row, replica id) — a single distributed pass
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("__r", explode(expr(s"sequence(0, ${copies - 1})")))

    def shift(c: String) = (col(c) + col("__r") * Stride).as(c)

    // Driver-layout parity: each table is ONE parquet file named
    // `<name>.parquet` (the oracle tooling points DuckDB at that exact
    // path). repartition(1) keeps the transform stage parallel and
    // serializes only the final encode; the part file is then renamed
    // over the directory Spark wrote.
    val hfs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(df: DataFrame, name: String): Unit = {
      import org.apache.hadoop.fs.Path
      val tmp = s"$outDir/.gen_$name"
      df.drop("__r").repartition(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val part = hfs.listStatus(new Path(tmp))
        .map(_.getPath).filter(_.getName.startsWith("part-")) match {
        case Array(p) => p
        case ps => sys.error(s"expected one part file for $name, got ${ps.length}")
      }
      val target = new Path(s"$outDir/$name.parquet")
      hfs.delete(target, true)
      hfs.rename(part, target)
      hfs.delete(new Path(tmp), true)
      println(s"[scalegen] $name x$copies -> $target")
    }

    // fixed dimensions: constant cardinality at any scale
    write(in("region").withColumn("__r", lit(0)), "region")
    write(in("nation").withColumn("__r", lit(0)), "nation")

    write(
      replicate(in("customer")).select(
        shift("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"), col("__r")),
      "customer")

    // names suffixed per replica: fuzzy matching derives its deletion
    // neighborhoods from these — identical cross-replica names would
    // match each other at distance 0 and grow pairs quadratically
    write(
      replicate(in("supplier")).select(
        shift("s_suppkey"),
        when(col("__r") === 0, col("s_name"))
          .otherwise(concat(col("s_name"), lit("-"), col("__r"))).as("s_name"),
        col("s_nationkey"), col("s_acctbal"), col("__r")),
      "supplier")

    write(
      replicate(in("part")).select(
        shift("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"), col("p_retailprice"), col("__r")),
      "part")

    write(
      replicate(in("orders")).select(
        shift("o_orderkey"), shift("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"), col("__r")),
      "orders")

    write(
      replicate(in("lineitem")).select(
        shift("l_orderkey"), shift("l_partkey"), shift("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"), col("__r")),
      "lineitem")

    // ts arrives in whatever shape the source dir carries (nanos-long,
    // NTZ micros, tz-aware micros — graft.Tables.events normalizes all
    // three to the instant type) and leaves as TIMESTAMP(MICROS) holding
    // the identical instant
    write(
      replicate(graft.Tables.events(spark, inDir)).select(
        shift("event_id"),
        col("ts"),
        shift("user_id"), col("event_type"), col("value"), col("props"), col("__r")),
      "events")

    // per-replica token suffix: bijective over tokens, so every
    // within-replica shingle/Jaccard/line-hash relation is preserved
    // exactly while replicas share no shingles at all
    write(
      replicate(in("documents"))
        .withColumn(
          "text",
          when(col("__r") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1~"), col("__r")))))
        .select(
          shift("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"), col("__r")),
      "documents")

    // cyclic dimension rotation composed with a per-replica sign mask:
    // both are orthogonal transforms (a permutation matrix and a diagonal
    // ±1 matrix), so norms and all WITHIN-replica pairwise distances are
    // preserved exactly while cross-replica cosine structure is scrambled.
    // The rotation alone repeats every `dim` replicas (dim=64 in the
    // driver testdata), so a copies>dim run (sf10 = 100 copies) would
    // make replicas r and r+dim carry IDENTICAL vectors — a duplicate-
    // mass explosion for the similarity family, not a scale-up. The sign
    // mask keys on q = r div dim (flip dimension j iff bit (j mod 31) of
    // q*2654435761 is set — any fixed ±1 diagonal per q works); q=0 means
    // no flips, so copies<=dim output (the sf1 gate) is bit-identical to
    // what previous rounds published.
    write(
      replicate(in("embeddings")).select(
        shift("vec_id"),
        expr(
          """transform(embedding, (x, j) ->
             embedding[int((j + __r) % size(embedding))] *
             (1 - 2 * int(((bigint(__r) div size(embedding)) * 2654435761 div
                           shiftleft(1L, int(j % 31))) % 2)))""")
          .as("embedding"),
        col("label"), col("__r")),
      "embeddings")
  }
}
