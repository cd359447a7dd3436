package graft

import scala.util.Random

/** Differential SQL fuzzing: deterministically generate random queries in
  * the cross-engine-safe SQL subset (decimal-exact sums, counts, min/max,
  * count-distinct, equi-joins, filters, group bys — everything the fixed
  * oracle queries rely on), run them through spark.sql, dump results +
  * the IDENTICAL SQL text as oracle_sql.json, and let the standard
  * check_oracle.py compare against DuckDB.
  *
  * Usage: runMain graft.FuzzVerify <sfDir> <outDir> [n=50] [seed=42]
  */
object FuzzVerify {

  case class Col(name: String, kind: String) // kind: cat | num | key
  case class Table(name: String, cols: Seq[Col])

  val tables: Seq[Table] = Seq(
    Table("lineitem", Seq(
      Col("l_returnflag", "cat"), Col("l_linestatus", "cat"),
      Col("l_quantity", "num"), Col("l_extendedprice", "num"),
      Col("l_discount", "num"), Col("l_tax", "num"),
      Col("l_orderkey", "key"), Col("l_partkey", "key"), Col("l_suppkey", "key"))),
    Table("orders", Seq(
      Col("o_orderstatus", "cat"), Col("o_orderpriority", "cat"),
      Col("o_totalprice", "num"), Col("o_orderkey", "key"), Col("o_custkey", "key"))),
    Table("customer", Seq(
      Col("c_mktsegment", "cat"), Col("c_acctbal", "num"),
      Col("c_custkey", "key"), Col("c_nationkey", "key"))),
    Table("part", Seq(
      Col("p_brand", "cat"), Col("p_type", "cat"),
      Col("p_retailprice", "num"), Col("p_size", "num"), Col("p_partkey", "key")))
  )

  // joinable pairs: (left table, right table, left key, right key)
  val joins: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("orders", "customer", "o_custkey", "c_custkey"))

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  def genQuery(r: Random): String = {
    val useJoin = r.nextInt(3) == 0
    val (fromClause, cols) =
      if (useJoin) {
        val (lt, rt, lk, rk) = pick(r, joins)
        val l = tables.find(_.name == lt).get
        val rr = tables.find(_.name == rt).get
        (s"$lt JOIN $rt ON $lk = $rk", l.cols ++ rr.cols)
      } else {
        val t = pick(r, tables)
        (t.name, t.cols)
      }
    val cats = cols.filter(_.kind == "cat")
    val nums = cols.filter(_.kind == "num")
    val keys = cols.filter(_.kind == "key")
    val groupCols = r.shuffle(cats).take(1 + r.nextInt(2)).map(_.name)
    val nAggs = 1 + r.nextInt(3)
    val aggs = (0 until nAggs).map { i =>
      r.nextInt(5) match {
        case 0 => s"COUNT(*) AS agg$i"
        case 1 =>
          val c = pick(r, nums).name
          s"CAST(SUM(CAST($c AS DECIMAL(12,2))) AS DOUBLE) AS agg$i"
        case 2 => s"MIN(${pick(r, nums).name}) AS agg$i"
        case 3 => s"MAX(${pick(r, cats ++ nums).name}) AS agg$i"
        case 4 => s"COUNT(DISTINCT ${pick(r, keys ++ cats).name}) AS agg$i"
      }
    }
    val where =
      if (r.nextInt(2) == 0) {
        val c = pick(r, nums)
        val op = pick(r, Seq("<", ">", "<=", ">="))
        val v = (r.nextInt(200) + 1) * 25
        s" WHERE ${c.name} $op $v"
      } else ""
    val having =
      if (r.nextInt(3) == 0) s" HAVING COUNT(*) > ${1 + r.nextInt(5)}" else ""
    val sel = (groupCols ++ aggs).mkString(", ")
    s"SELECT $sel FROM $fromClause$where GROUP BY ${groupCols.mkString(", ")}$having " +
      s"ORDER BY ${groupCols.mkString(", ")}"
  }

  /** Window-function template: exact top-k per category by a key column
    * (total order via the unique key — identical semantics both engines).
    */
  def genWindowQuery(r: Random): String = {
    val t = pick(r, tables)
    val cat = pick(r, t.cols.filter(_.kind == "cat")).name
    val key = pick(r, t.cols.filter(_.kind == "key")).name
    val dir = pick(r, Seq("ASC", "DESC"))
    val k = 1 + r.nextInt(5)
    s"""SELECT $cat, $key, rk FROM (
       |  SELECT $cat, $key,
       |    ROW_NUMBER() OVER (PARTITION BY $cat ORDER BY $key $dir) AS rk
       |  FROM ${t.name}) WHERE rk <= $k ORDER BY $cat, rk""".stripMargin
  }

  /** Running-aggregate template: decimal-exact prefix sums + running
    * counts over a TOTAL order (unique-key tables only — a ROWS frame
    * over a non-unique order would be tie-order-dependent). Exercises the
    * window-frame semantics the Prefix/pack operators rely on; output
    * sampled by key to stay bounded.
    */
  private val uniqueKeyed: Seq[(String, String, String, String)] = Seq(
    ("orders", "o_orderkey", "o_totalprice", "o_orderstatus"),
    ("customer", "c_custkey", "c_acctbal", "c_mktsegment"),
    ("part", "p_partkey", "p_retailprice", "p_brand"))

  def genRunningQuery(r: Random): String = {
    val (t, key, num, cat) = pick(r, uniqueKeyed)
    val m = 7 + r.nextInt(90)
    val frame = s"PARTITION BY $cat ORDER BY $key " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    s"""SELECT cat, k, run, rn FROM (
       |  SELECT $cat AS cat, $key AS k,
       |    CAST(SUM(CAST($num AS DECIMAL(12,2))) OVER ($frame) AS DOUBLE) AS run,
       |    COUNT(*) OVER ($frame) AS rn
       |  FROM $t) WHERE k % $m = 0 ORDER BY cat, k""".stripMargin
  }

  /** Set-op template over aligned key columns. */
  def genSetOpQuery(r: Random): String = {
    val op = pick(r, Seq("EXCEPT", "INTERSECT"))
    val v = (r.nextInt(40) + 1) * 250
    s"""SELECT c_custkey AS k FROM customer WHERE c_acctbal > $v
       |$op SELECT o_custkey AS k FROM orders ORDER BY k""".stripMargin
  }

  /** Multiset (ALL) set-op template: the replication-counter rewrite,
    * summarized to one row so multiplicities are value-checked without an
    * unbounded result.
    */
  def genSetOpAllQuery(r: Random): String = {
    val op = pick(r, Seq("EXCEPT ALL", "INTERSECT ALL"))
    // l_quantity spans 1..50 in the fixture — threshold must land inside
    // that range or the left branch is empty and the template is vacuous
    val v = 1 + r.nextInt(48)
    val flag = pick(r, Seq("'N'", "'R'", "'A'"))
    s"""SELECT COUNT(*) AS n, CAST(COALESCE(SUM(k), 0) AS BIGINT) AS key_sum FROM (
       |  SELECT l_orderkey AS k FROM lineitem WHERE l_quantity > $v
       |  $op SELECT l_orderkey FROM lineitem WHERE l_returnflag <> $flag)""".stripMargin
  }

  /** Null-safe equality join template: planted NULL keys on both sides,
    * IS NOT DISTINCT FROM join (NULLs match), per-key count product —
    * bounded output, null-group multiplicity checked.
    */
  def genNullSafeJoinQuery(r: Random): String = {
    val m1 = 2 + r.nextInt(12)
    val m2 = 2 + r.nextInt(12)
    s"""WITH ga AS (SELECT k, COUNT(*) AS n_a FROM (
       |    SELECT CASE WHEN c_custkey % $m1 = 0 THEN NULL ELSE c_nationkey END AS k
       |    FROM customer) GROUP BY k),
       |gb AS (SELECT k, COUNT(*) AS n_b FROM (
       |    SELECT CASE WHEN c_custkey % $m2 = 0 THEN NULL ELSE c_nationkey END AS k
       |    FROM customer) GROUP BY k)
       |SELECT CAST(COALESCE(ga.k, -1) AS BIGINT) AS k, n_a, n_b
       |FROM ga JOIN gb ON ga.k IS NOT DISTINCT FROM gb.k
       |ORDER BY k""".stripMargin
  }

  /** ROLLUP template: hierarchical super-aggregate rows (Catalyst's
    * Expand rewrite) with GROUPING() disambiguation and decimal-exact
    * sums — the grouping-analytics family the fuzzer never covered.
    * (A planned IGNORE-NULLS window template was dropped: Spark parses
    * `last_value(x) IGNORE NULLS`, DuckDB only `last_value(x IGNORE
    * NULLS)` — no shared spelling exists in the common dialect.)
    */
  def genRollupQuery(r: Random): String = {
    val t = pick(r, tables.filter(_.cols.count(_.kind == "cat") >= 2))
    val cats = r.shuffle(t.cols.filter(_.kind == "cat")).take(2).map(_.name)
    val num = pick(r, t.cols.filter(_.kind == "num")).name
    val op = pick(r, Seq("ROLLUP", "CUBE"))
    s"""SELECT COALESCE(${cats(0)}, '@all') AS g1, COALESCE(${cats(1)}, '@all') AS g2,
       |  GROUPING(${cats(0)}) AS ga, GROUPING(${cats(1)}) AS gb,
       |  COUNT(*) AS n, CAST(SUM(CAST($num AS DECIMAL(12,2))) AS DOUBLE) AS s
       |FROM ${t.name} GROUP BY $op(${cats(0)}, ${cats(1)})
       |ORDER BY ga, gb, g1, g2""".stripMargin
  }

  /** Outer-join template (the one relational family the fuzzer never
    * generated): LEFT/RIGHT/FULL over a real FK pair, with the
    * null-PRODUCING side(s) thinned by a key-modulus predicate so misses
    * are guaranteed regardless of value distributions (a value threshold
    * could be vacuously selective and never produce a null row). The
    * result groups on COALESCE'd categories from both sides and counts
    * matched keys per side, so null-extension multiplicity is
    * value-checked with bounded output.
    */
  def genOuterJoinQuery(r: Random): String = {
    val (lt, rt, lk, rk) = pick(r, joins)
    val ltab = tables.find(_.name == lt).get
    val rtab = tables.find(_.name == rt).get
    val jt = pick(r, Seq("LEFT", "RIGHT", "FULL"))
    val lcat = pick(r, ltab.cols.filter(_.kind == "cat")).name
    val rcat = pick(r, rtab.cols.filter(_.kind == "cat")).name
    val lnum = pick(r, ltab.cols.filter(_.kind == "num")).name
    def thin(key: String): String = s" WHERE $key % ${2 + r.nextInt(6)} <> 0"
    val lfilt = if (jt == "RIGHT" || jt == "FULL") thin(lk) else ""
    val rfilt = if (jt == "LEFT" || jt == "FULL") thin(rk) else ""
    s"""SELECT COALESCE($lcat, '@l') AS g1, COALESCE($rcat, '@r') AS g2,
       |  COUNT(*) AS n, COUNT($lk) AS n_l, COUNT($rk) AS n_r,
       |  CAST(SUM(CAST(COALESCE($lnum, 0) AS DECIMAL(14,2))) AS DOUBLE) AS s
       |FROM (SELECT * FROM $lt$lfilt) a $jt JOIN (SELECT * FROM $rt$rfilt) b
       |  ON $lk = $rk
       |GROUP BY COALESCE($lcat, '@l'), COALESCE($rcat, '@r')
       |ORDER BY g1, g2""".stripMargin
  }

  /** Correlated EXISTS / NOT EXISTS template — Catalyst's
    * RewritePredicateSubquery family (semi/anti join decorrelation),
    * which no other template reaches. The inner correlation carries a
    * numeric threshold drawn INSIDE the subquery so the semi-join is
    * never a plain FK membership test; NOT EXISTS (unlike NOT IN) is
    * null-safe by construction, so both polarities are fair game.
    */
  def genExistsQuery(r: Random): String = {
    val (lt, rt, lk, rk) = pick(r, joins)
    val ltab = tables.find(_.name == lt).get
    val rtab = tables.find(_.name == rt).get
    val cat = pick(r, ltab.cols.filter(_.kind == "cat")).name
    val num = pick(r, ltab.cols.filter(_.kind == "num")).name
    val rnum = pick(r, rtab.cols.filter(_.kind == "num")).name
    val not = if (r.nextBoolean()) "NOT " else ""
    val thr = 1 + r.nextInt(50)
    s"""SELECT $cat AS g, COUNT(*) AS n,
       |  CAST(SUM(CAST($num AS DECIMAL(14,2))) AS DOUBLE) AS s
       |FROM $lt
       |WHERE ${not}EXISTS (SELECT 1 FROM $rt
       |  WHERE $rk = $lt.$lk AND $rnum > $thr)
       |GROUP BY $cat ORDER BY g""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = args.lift(2).map(_.toInt).getOrElse(50)
    val seed = args.lift(3).map(_.toLong).getOrElse(42L)
    val spark = Session.local()
    tables.foreach(t =>
      Tables.table(spark, sfDir, t.name).createOrReplaceTempView(t.name))
    new java.io.File(outDir).mkdirs()
    val r = new Random(seed)
    val sqls = (0 until n).map { i =>
      val sql = i % 10 match {
        case 2 => genExistsQuery(r)
        case 3 => genOuterJoinQuery(r)
        case 4 => genWindowQuery(r)
        case 5 => genRunningQuery(r)
        case 6 => genSetOpQuery(r)
        case 7 => genSetOpAllQuery(r)
        case 8 => genNullSafeJoinQuery(r)
        case 9 => genRollupQuery(r)
        case _ => genQuery(r)
      }
      f"fuzz_$i%03d" -> sql
    }
    sqls.foreach { case (name, sql) =>
      try spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable => System.err.println(s"[fuzz] $name failed: ${e.getMessage}") }
    }
    Verify.writeOracleSql(outDir, sqls)
    spark.stop()
  }
}
