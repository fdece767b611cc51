package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** A fixed list of `SparkEntry.queries` entries over seeded warehouse
  * tables: the streaming, graph, similarity and relational families that
  * neither workload's unit calls. It runs once per traced run, after the
  * workload's units, and each entry's result is checked against its DuckDB
  * twin in `OracleSql` by the repository's `tools/compare.py`.
  *
  * The tables have the schemas and value ranges of the program's
  * warehouse fixtures. `Scale` = 10 gives their row counts at scale factor
  * 0.01: 15000 orders, 60000 line items, 10000 events, 500 documents and
  * 500 embeddings.
  */
object EntryMix {
  val Entries: Seq[String] = Seq(
    "dq_reconciliation", "embed_cosine_topk", "embed_knn_descent",
    "events_sessions", "graph_bipartite_project", "graph_components",
    "graph_kcore", "graph_pagerank", "stream_left_join", "stream_neardup_gate",
    "stream_transform_state", "stream_tumbling", "tpch_q1", "tpch_q18_large")

  /** Per-layer family of an entry, by its name. */
  def family(entry: String): String = entry.takeWhile(_ != '_') match {
    case "stream" => "stream"
    case "graph" => "graph"
    case "embed" => "embed"
    case _ => "relational"
  }

  val Scale = 10
  private val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Vector("blue", "red", "small", "large", "hot", "cold", "old", "new")
  private val Nouns = Vector("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo")
  private val EventTypes = Vector("click", "error", "purchase", "signup", "view")
  private val Words = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window")
  private val Langs = Vector("en", "en", "en", "de", "es", "fr", "zh")
  private val Dim = 64

  private def f(name: String, t: DataType) = StructField(name, t)
  private def money(x: Double): Double = math.round(x * 100) / 100.0

  /** Writes the seeded tables to `dir`, one parquet file per table. */
  def generate(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val rnd = new SplittableRandom(seed)
    def between(lo: Double, hi: Double) = money(lo + (hi - lo) * rnd.nextDouble())
    val nCust = 150 * Scale
    val nSupp = 10 * Scale
    val nPart = 200 * Scale
    val nOrders = 1500 * Scale
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = dir.resolve(s".$name")
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(tmp.toString)
      val part = Fs.files(tmp).find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"))
      Fs.deleteTree(tmp)
    }
    Files.createDirectories(dir)
    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % Regions.size)))
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
      f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        between(-999.99, 9999.99), Segments(rnd.nextInt(Segments.size)))))
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        between(-999.99, 9999.99))))
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${Adjectives(rnd.nextInt(Adjectives.size))} ${Nouns(rnd.nextInt(Nouns.size))}",
        s"Brand#${1 + rnd.nextInt(25)}", PartTypes(rnd.nextInt(PartTypes.size)),
        1 + rnd.nextInt(50), money(900 + (i % 1000) * 0.1))))
    val orderDay = Array.fill(nOrders)(rnd.nextInt(2404))
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong,
        Vector("F", "O", "P")(rnd.nextInt(3)), between(1000, 500000),
        day0.plusDays(orderDay(i)), Priorities(rnd.nextInt(Priorities.size)))))
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until 4 * nOrders).map { _ =>
        val o = rnd.nextInt(nOrders)
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(o.toLong, rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong,
          1 + rnd.nextInt(7), qty, money(qty * between(900, 2100)),
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          Vector("A", "N", "R")(rnd.nextInt(3)), Vector("F", "O")(rnd.nextInt(2)),
          day0.plusDays(orderDay(o) + 1 + rnd.nextInt(121)))
      })
    val ts0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    var micros = 0L
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until 1000 * Scale).map { i =>
        micros += (-math.log(1 - rnd.nextDouble()) * 259e6).toLong
        Row(i.toLong, ts0.plusNanos(micros * 1000), rnd.nextInt(15 * Scale).toLong,
          EventTypes(rnd.nextInt(EventTypes.size)),
          math.max(0.01, money(math.exp(3.5 + rnd.nextGaussian()))),
          s"""{"k": ${rnd.nextInt(100)}}""")
      })
    val texts = scala.collection.mutable.LinkedHashSet.empty[String]
    while (texts.size < 500)
      texts += Seq.fill(8 + rnd.nextInt(73))(Words(rnd.nextInt(Words.size))).mkString(" ")
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.toSeq.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(5)}",
          t.length.toLong)
      })
    // ten label clusters on the unit sphere
    val centers = Array.fill(10, Dim)(rnd.nextGaussian())
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until 500).map { i =>
        val label = rnd.nextInt(10)
        val v = centers(label).map(_ + 1.5 * rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }

  /** Generates the tables, runs every entry once, name-sorted, then
    * checks the results. Each entry counts as one attempted unit.
    */
  def run(r: Run): Unit = {
    val spark = r.spark
    val g0 = System.nanoTime()
    val dir = r.work.resolve("mix_tables")
    val out = r.work.resolve("mix_out")
    generate(spark, r.seed, dir)
    r.log(f"entry_mix: generated tables in ${(System.nanoTime() - g0) / 1e9}%.2f s")
    val wall = Timing.start()
    val ran = Entries.flatMap { name =>
      r.attempt(s"entry_mix $name") {
        val s = Timing.start()
        SparkEntry.queries(name)(spark, dir.toString)
          .coalesce(1).write.parquet(out.resolve(name).toString)
        s.stop()
      }.map(name -> _)
    }
    val mixS = wall.stop().wallS
    val passed = compare(r, out, dir, ran.map(_._1))
    val ok = ran.filter(e => passed(e._1))
    r.failed += ran.size - ok.size
    ok.foreach { case (name, tm) => r.rec(s"mix.${name}_s", tm.wallS) }
    Seq("stream", "graph", "embed", "relational").foreach { fam =>
      r.rec(s"$fam.s", ok.filter(e => family(e._1) == fam).map(_._2.wallS).sum)
    }
    if (ok.size == Entries.size) r.rec("mix.s", mixS)
    Seq(dir, out).foreach(Fs.deleteTree)
  }

  /** Runs `tools/compare.py` over the written results and returns the
    * entries it passed; the causes of the others go to stderr.
    */
  private def compare(r: Run, out: Path, dir: Path, names: Seq[String]): Set[String] = {
    val oracle = SparkEntry.oracleSql
    Files.write(out.resolve("oracle_sql.json"), names.map(n =>
      s"${Json.str(n)}: ${Json.str(oracle(n))}").mkString("{", ", ", "}")
      .getBytes(StandardCharsets.UTF_8))
    val script = Paths.get("tools", "compare.py")
    val p = new ProcessBuilder("python3", script.toString, out.toString, dir.toString)
      .redirectErrorStream(true).start()
    p.getOutputStream.close()
    val lines = scala.io.Source.fromInputStream(p.getInputStream).getLines().toVector
    p.waitFor()
    lines.filter(_.startsWith("FAIL")).foreach(l => r.log(s"entry_mix compare $l"))
    lines.collect { case l if l.startsWith("PASS ") => l.split(" ")(1) }.toSet
  }
}
