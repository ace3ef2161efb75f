package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The analytics workload: warm passes over a fixed set of headline
  * queries, each called through `SparkEntry.queries` and collected. An
  * operation is one query call. Every pass's output must equal the
  * first pass's; the first pass's output is written out for `run.py`
  * to compare with the query's DuckDB oracle twin.
  */
object Analytics {

  val QuerySet = Seq("q06_url_canonicalize", "q08_politeness_admission", "q25_minhash_lsh",
    "q46_neardup_clusters", "q65_containment", "q91_hits", "q96_bigram_lm", "q117_hyperplane_audit")

  final case class Call(pass: Int, query: String, seconds: Double, digest: Int, error: String)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sf = if (ctx.tiny) 0.002 else 0.01
    val data = ctx.dir("data")
    ctx.inputs(3)(_ => TableGen.generate(spark, data, ctx.seed, sf))

    val fns = SparkEntry.queries
    val firstOutput = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    def call(pass: Int, q: String, traced: Boolean): Call = {
      val sc = spark.sparkContext
      sc.setLocalProperty(JobListener.QueryProp, q)
      sc.setJobDescription(s"query:$q")
      val t0 = System.nanoTime()
      val res = try {
        val body = () => { val df = fns(q)(spark, data); (df.collect(), df.schema) }
        Right(if (traced) ctx.spans("query", q)(body()) else body())
      } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val secs = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(JobListener.QueryProp, null)
      sc.setJobDescription(null)
      // release the query's internal caches and checkpoints between calls
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
      res match {
        case Left(err) => Call(pass, q, secs, 0, err)
        case Right((rows, schema)) =>
          if (!firstOutput.contains(q)) firstOutput(q) = (rows, schema)
          Call(pass, q, secs, rows.map(_.toString).sorted.toSeq.hashCode, "")
      }
    }
    var passes = 0
    def pass(traced: Boolean): Seq[Call] = {
      val p = passes
      passes += 1
      QuerySet.map(call(p, _, traced))
    }

    ctx.warmup(pass(traced = false))
    firstOutput.clear()
    val (plain, traced) = ctx.window(ctx.seconds)(pass)
    val calls = (plain ++ traced).flatten

    // ---- output checks, outside every timed region ----
    val expected = calls.filter(_.error.isEmpty).groupBy(_.query).map { case (q, cs) => q -> cs.minBy(_.pass).digest }
    val ops = calls.map { c =>
      val why =
        if (c.error.nonEmpty) c.error
        else if (c.digest != expected(c.query)) "output differs from the first pass"
        else ""
      Op(s"pass${c.pass}/${c.query}", c.seconds, why.isEmpty, why)
    }
    val oracleDir = ctx.dir("oracle")
    firstOutput.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$oracleDir/$q")
    }
    Files.writeString(Paths.get(oracleDir, "oracle_sql.json"),
      Json.encode(QuerySet.map(q => q -> SparkEntry.oracleSql(q)).toMap))

    def totals(ps: Seq[Seq[Call]]) = ps.map(_.map(_.seconds).sum)
    val report = Map("query_total_s" -> (Stats.median(totals(plain)), "s"))

    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        val jobs = ctx.listener.snapshot
        val passes = traced.size.max(1).toDouble
        val overhead = Stats.median(totals(traced)) / Stats.median(totals(plain)) - 1
        QuerySet.flatMap { q =>
          val js = jobs.filter(_.query == q)
          Seq(s"query.$q.s" -> Stats.median(traced.flatten.filter(_.query == q).map(_.seconds)),
            s"query.$q.task_s" -> js.map(_.taskMs).sum / 1e3 / passes,
            s"query.$q.shuffle_mb" -> js.map(_.shuffleWriteBytes).sum / 1e6 / passes,
            s"query.$q.jobs" -> js.size / passes)
        }.toMap + ("trace.overhead_frac" -> overhead)
      }
    Outcome(ops, totals(plain), report, layers, Nil,
      extra = Map("data_dir" -> data, "oracle_dir" -> oracleDir))
  }
}

/** Seeded generator of the tables the query set reads (`orders`,
  * `lineitem`, `documents`, `embeddings`), calibrated against the
  * repository's TPC-H-ish test data (the sf 0.01 set the oracle tests
  * use): the same schemas, value ranges and row counts (sf 0.01: 15 000
  * orders, 60 000 line items, 500 documents, 500 embeddings; documents
  * and embeddings never drop below 500), documents of 10–99 words drawn
  * uniformly from the same 30-word vocabulary, and 5% of the documents
  * repeating another document's text with a ` dup` suffix (one in
  * twenty of those twice), so the near-duplicate queries have pairs to
  * find. crawlbench/README.md compares the two side by side.
  */
object TableGen extends Serializable {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def rnd(seed: Long, table: Long, i: Long, k: Int): Long =
    mix(mix(mix(seed) ^ table) ^ (i * 0x100000001B3L + k))
  private def pick(r: Long, n: Int): Int = Math.floorMod(r, n.toLong).toInt
  private def unit(r: Long): Double = (r >>> 11).toDouble / (1L << 53).toDouble

  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "es", "zh", "de", "fr")
  private val OrderStatus = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("F", "O")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
  private val Days = (java.time.LocalDate.of(2001, 8, 1).toEpochDay - Day0 + 1).toInt

  private def day(r: Long): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDate.ofEpochDay(Day0 + pick(r, Days)).atStartOfDay())
  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  def generate(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    import spark.implicits._
    val nOrders = (1500000 * sf).toLong
    val nCust = (nOrders / 10).max(1)
    val nPart = (200000 * sf).toLong.max(1)
    val nDocs = (50000 * sf).toLong.max(500)
    val nVecs = (20000 * sf).toLong.max(500)
    def write(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write(spark.range(nOrders).map { id =>
      val i: Long = id
      (i, Math.floorMod(rnd(seed, 1, i, 0), nCust), OrderStatus(pick(rnd(seed, 1, i, 1), 3)),
        cents(1000 + unit(rnd(seed, 1, i, 2)) * 499000), day(rnd(seed, 1, i, 3)),
        Priorities(pick(rnd(seed, 1, i, 4), 5)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
      "orders")

    write(spark.range(4 * nOrders).map { id =>
      val i: Long = id
      val q = 1 + pick(rnd(seed, 2, i, 4), 50)
      (Math.floorMod(rnd(seed, 2, i, 0), nOrders), Math.floorMod(rnd(seed, 2, i, 1), nPart),
        Math.floorMod(rnd(seed, 2, i, 2), 100L), 1 + pick(rnd(seed, 2, i, 3), 7), q.toDouble,
        cents(q * (900 + unit(rnd(seed, 2, i, 5)) * 2000)), pick(rnd(seed, 2, i, 6), 11) / 100.0,
        pick(rnd(seed, 2, i, 7), 9) / 100.0, ReturnFlags(pick(rnd(seed, 2, i, 8), 3)),
        LineStatus(pick(rnd(seed, 2, i, 9), 2)), day(rnd(seed, 2, i, 10)))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"), "lineitem")

    def baseText(i: Long): String = {
      val n = 10 + pick(rnd(seed, 3, i, 0), 90)
      (0 until n).map(k => Vocab(pick(rnd(seed, 4, i, k), Vocab.length))).mkString(" ")
    }
    write(spark.range(nDocs).map { id =>
      val i: Long = id
      val dupOf = if (i > 0 && pick(rnd(seed, 3, i, 1), 20) == 0) Some(Math.floorMod(rnd(seed, 3, i, 2), nDocs)).filter(_ != i) else None
      val text = dupOf match {
        case Some(j) => baseText(j) + (if (pick(rnd(seed, 3, i, 3), 20) == 0) " dup dup" else " dup")
        case None => baseText(i)
      }
      (i, text, Langs(pick(rnd(seed, 3, i, 4), Langs.length)), s"src${i % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    write(spark.range(nVecs).map { id =>
      val i: Long = id
      val g = (0 until 64).map { k =>
        val u1 = math.max(unit(rnd(seed, 5, i, 2 * k)), 1e-12)
        val u2 = unit(rnd(seed, 5, i, 2 * k + 1))
        math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
      }
      val norm = math.sqrt(g.map(x => x * x).sum)
      (i, g.map(x => (x / norm).toFloat), pick(rnd(seed, 5, i, 999), 10))
    }.toDF("vec_id", "embedding", "label"), "embeddings")
  }
}
