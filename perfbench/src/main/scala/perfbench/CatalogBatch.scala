package perfbench

import java.time.LocalDateTime

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the catalog's tables: the schemas of the
  * repository's testdata (TESTDATA.md: region, nation, customer, supplier, part, orders, lineitem,
  * events, documents, embeddings) with similar value distributions,
  * sized by `scale` (1.0 = the sf0.01 row counts). */
object CatalogGen {
  private val colors = Seq("blue", "hot", "small", "old", "red", "new", "cold", "large")
  private val nouns = Seq("bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo")
  private val words = ("key agg row scan slow fast table value part hash the line sort " +
    "window a merge batch data column join small customer query big order stream spark " +
    "filter group vector").split(" ").toIndexedSeq

  private def write(spark: SparkSession, dir: String, name: String, schema: StructType,
                    rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def f(n: String, t: DataType) = StructField(n, t)
  private def r2(x: Double) = math.round(x * 100) / 100.0

  def generate(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    def rnd(table: Int) = new java.util.Random(seed * 31 + table)
    val nCust = (1500 * scale).toInt.max(20)
    val nSupp = (100 * scale).toInt.max(5)
    val nPart = (2000 * scale).toInt.max(20)
    val nOrd = (15000 * scale).toInt.max(50)
    val nEv = (10000 * scale).toInt.max(100)
    val nDoc = 500
    val nEmb = 500

    write(spark, dir, "region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write(spark, dir, "nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segs = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    val rc = rnd(1)
    write(spark, dir, "customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        r2(-999.99 + 10999.98 * rc.nextDouble()), segs(rc.nextInt(5)))))
    val rs = rnd(2)
    write(spark, dir, "supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        r2(-999.99 + 10999.98 * rs.nextDouble()))))
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val rp = rnd(3)
    write(spark, dir, "part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${colors(rp.nextInt(8))} ${nouns(rp.nextInt(8))}",
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(6)), 1 + rp.nextInt(50),
        r2(900.0 + (i % 1000) / 10.0))))

    val ro = rnd(4)
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    write(spark, dir, "orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
      f("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong, Seq("P", "O", "F")(ro.nextInt(3)),
        r2(1000.0 + 499000.0 * ro.nextDouble()), day0.plusDays(ro.nextInt(2404)), prios(ro.nextInt(5)))))
    val rl = rnd(5)
    val li = mutable.ArrayBuffer.empty[Row]
    for (o <- 0 until nOrd; ln <- 1 to 1 + rl.nextInt(7)) {
      val qty = (1 + rl.nextInt(50)).toDouble
      val flag = Seq("A", "N", "R")(rl.nextInt(3))
      li += Row(o.toLong, rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong, ln, qty,
        r2(qty * (900.0 + 1200.0 * rl.nextDouble())), rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
        flag, Seq("O", "F")(rl.nextInt(2)), day0.plusDays(1 + rl.nextInt(2499)))
    }
    write(spark, dir, "lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      li.toSeq)

    val re = rnd(6)
    val evTypes = Seq("click", "signup", "error", "view", "purchase")
    val jan = LocalDateTime.of(2024, 1, 1, 0, 0)
    write(spark, dir, "events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (0 until nEv).map(i => Row(i.toLong, jan.plusNanos((re.nextDouble() * 30 * 86400e6).toLong * 1000L),
        re.nextInt((nEv / 66).max(10)).toLong, evTypes(re.nextInt(5)), r2(0.01 + 490.0 * re.nextDouble()),
        s"""{"k": ${re.nextInt(100)}}""")))

    // documents: random word sequences, about one in ten a near-duplicate
    // (copy of an earlier document with a few words changed)
    val rd = rnd(7)
    val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
    val texts = mutable.ArrayBuffer.empty[String]
    val docs = (0 until nDoc).map { i =>
      val text =
        if (i > 10 && rd.nextDouble() < 0.1) {
          val base = texts(rd.nextInt(texts.length)).split(" ")
          (0 until 3).foreach(_ => base(rd.nextInt(base.length)) = words(rd.nextInt(words.length)))
          if (rd.nextBoolean()) (base :+ "dup").mkString(" ") else base.mkString(" ")
        } else Seq.fill(10 + rd.nextInt(90))(words(rd.nextInt(words.length))).mkString(" ")
      texts += text
      Row(i.toLong, text, langs(rd.nextInt(langs.length)), s"src${rd.nextInt(20)}", text.length.toLong)
    }
    write(spark, dir, "documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), docs)

    // embeddings: 64-d unit vectors around 10 cluster centers
    val rv = rnd(8)
    val centers = Array.fill(10, 64)(rv.nextGaussian())
    write(spark, dir, "embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))),
      (0 until nEmb).map { i =>
        val l = rv.nextInt(10)
        val v = centers(l).map(_ + 1.2 * rv.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, l)
      })
  }
}

/** catalog_batch: a mix of catalog queries on generated tables, each
  * forced through the noop sink as the catalog benchmark does, with a
  * session reset between queries outside the timed section. The cold
  * pass writes each query's output for the DuckDB oracle check. It is not
  * a workload of its own: the traced run of online_kernels runs it for the
  * `queries` layer's per-layer values. */
object CatalogBatch {

  /** The query mix: relational, offline V-ETL and text queries. */
  val Queries = Seq("q01_pricing_summary", "q06_iou_join", "q07_join_agg",
    "n05_placement_pareto", "d16_dup_spans")
  /** Table size: 1.0 = the sf0.01 row counts. */
  val Scale = 0.5
  /** Its set-up time is no metric, so the tables are generated once. */
  val SetupReps = 1
  /** Untimed passes after the cold one. Pass time keeps falling for about
    * ten passes as the JIT catches up, but runs minutes apart differ more
    * than that, with the speed of the host, so one warm pass is kept. */
  val WarmPasses = 1
  /** Wait after each GC of the reset between queries. */
  val SettleMs = 100L

  /** Shuffle exchanges in the final plans and planning time per query,
    * from a QueryExecutionListener the benchmark registers. Events are
    * attributed to the query named in `current` when they arrive; the
    * reset between queries waits for them. */
  final class QeProbe extends org.apache.spark.sql.util.QueryExecutionListener {
    @volatile var current = ""
    val exchanges = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val planMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val failures = new java.util.concurrent.atomic.AtomicLong(0)
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit = synchronized {
      exchanges(current) += PlanShape.exchanges(qe.executedPlan)
      planMs(current) += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = failures.incrementAndGet()
  }

  /** The catalog benchmark's reset between queries (Bench.resetSession):
    * caches and state stores dropped, then two GC-and-settle rounds so
    * that the context cleaner, blocking on shuffle clean-up, retires the
    * previous query's shuffle data before the next one starts. */
  private def reset(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    System.gc()
    Thread.sleep(SettleMs)
    System.gc()
    Thread.sleep(SettleMs)
  }

  def run(a: Args, res: Result): Unit = {
    val local = s"${a.work}/catalog"
    val dataDir = s"$local/data"
    val outDir = s"$local/out"
    val spark = SparkSetup.session(SparkSetup.Cores, local,
      "spark.cleaner.referenceTracking.blocking.shuffle" -> "true")
    val probe = new TaskProbe
    val qe = new QeProbe
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(qe)
    val jit0 = Jvm.jitMs; val gc0 = Jvm.gcMs
    res.layers("jvm.loadavg_start") = Jvm.loadAvg
    val tracer = new Tracer(a.trace, s"catalog_batch-${a.seed}")
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    val qs = Queries.map(n => byName.getOrElse(n, sys.error(s"unknown catalog query $n")))

    for (r <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      CatalogGen.generate(spark, dataDir, a.seed, Scale)
      res.setupS += (System.nanoTime() - t0) / 1e9
      // the first set-up also pays class loading and first codegen
      if (r == 0) res.layers("jvm.warmup_s") = Main.sinceStartS
    }

    val setupEndS = Main.sinceStartS
    // cold pass: each query's output goes to parquet for the oracle check
    val c0 = System.nanoTime()
    qs.foreach { q =>
      reset(spark)
      qe.current = q.name
      try q.fn(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/${q.name}")
      catch { case e: Exception => res.check(ok = false, s"${q.name} cold pass: ${e.getMessage}") }
    }
    res.layers("queries.cold_total_s") = (System.nanoTime() - c0) / 1e9
    val coldEndS = Main.sinceStartS
    val oracle = SparkEntry.oracleSql
    val w = new java.io.PrintWriter(s"$outDir/oracle_sql.json", "UTF-8")
    try w.print(Json.render(qs.flatMap(q => oracle.get(q.name).map(q.name -> _)).toMap))
    finally w.close()

    // untimed passes through the noop sink, without resets between queries
    for (_ <- 0 until WarmPasses) qs.foreach { q =>
      qe.current = q.name
      try q.benchFn.getOrElse(q.fn)(spark, dataDir).write.format("noop").mode("overwrite").save()
      catch { case e: Exception => res.check(ok = false, s"${q.name} warm pass: ${e.getMessage}") }
    }
    val warmEndS = Main.sinceStartS

    // timed passes
    reset(spark)
    probe.clear()
    qe.exchanges.clear(); qe.planMs.clear()
    val perQuery = mutable.LinkedHashMap(qs.map(_.name -> mutable.ArrayBuffer.empty[Double]): _*)
    val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val traced = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    var passes = 0
    var timed = 0.0
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while (System.nanoTime() < deadline || passes < 2) {
      val tr = if (a.trace && passes % 2 == 1) tracer else new Tracer(false, "")
      var passMs = 0.0
      tr.span("bench", "pass")(qs.foreach { q =>
        reset(spark)
        qe.current = q.name
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok = try {
          tr.span("queries", q.name) {
            q.benchFn.getOrElse(q.fn)(spark, dataDir).write.format("noop").mode("overwrite").save()
          }
          true
        } catch { case e: Exception => res.check(ok = false, s"${q.name}: ${e.getMessage}"); false }
        val ms = (System.nanoTime() - t0) / 1e6
        timed += ms / 1e3
        if (ok) perQuery(q.name) += ms
        passMs += ms
        windows += ((q.name, w0, System.currentTimeMillis()))
      })
      // one operation is one pass over the mix: the median of single
      // queries would jump between the queries of a mixed set
      res.opMs += passMs
      (if (tr.enabled) traced else untraced) += passMs
      passes += 1
    }
    reset(spark)
    res.timedWallS = timed
    // each timed query is an operation attempted; the oracle check adds its own
    perQuery.values.foreach(_.foreach(_ => res.check(ok = true, "")))

    val tasks = probe.taskList
    def inQuery(name: String, t: Long) = windows.exists { case (n, s, e) => n == name && t >= s && t <= e }
    val L = res.layers
    val medians = perQuery.map { case (n, xs) => n -> Pct.median(xs.toSeq) }
    qs.foreach { q =>
      L(s"queries.${q.name}.ms") = medians(q.name)
      L(s"queries.${q.name}.tasks") = tasks.count(t => inQuery(q.name, t.launchMs)).toDouble / passes
    }
    L("queries.total_s") = medians.values.sum / 1e3
    L("queries.geomean_ms") = math.exp(medians.values.map(math.log).sum / medians.size)
    L("queries.jobs") = probe.jobs.get.toDouble / passes
    L("queries.stages") = probe.stageList.length.toDouble / passes
    L("queries.tasks") = tasks.length.toDouble / passes
    L("queries.exchanges") = qe.exchanges.values.sum.toDouble / passes
    L("queries.plan_ms") = qe.planMs.values.sum / passes
    L("queries.exec_run_s") = tasks.map(_.runMs).sum / 1e3 / passes
    L("queries.exec_cpu_s") = tasks.map(_.cpuMs).sum / 1e3 / passes
    L("queries.shuffle_mb") = tasks.map(_.shuffleBytes).sum / 1048576.0 / passes
    L("queries.spill_mb") = tasks.map(_.spillBytes).sum / 1048576.0 / passes
    res.info("size") = Map("queries" -> Queries, "scale" -> Scale, "setup_reps" -> SetupReps,
      "warm_passes" -> WarmPasses)
    res.info("passes") = passes
    // where the run's wall time went: seconds since main at each phase end
    res.info("phase_end_s") = Map("setup" -> setupEndS, "cold" -> coldEndS,
      "warm" -> warmEndS, "timed" -> Main.sinceStartS)
    res.info("data_dir") = dataDir
    res.info("out_dir") = outDir
    res.info("failed_task_attempts") = tasks.count(_.failed)
    res.info("qe_failures") = qe.failures.get
    res.layers("jvm.jit_s") = (Jvm.jitMs - jit0) / 1e3
    res.layers("jvm.gc_s") = (Jvm.gcMs - gc0) / 1e3
    res.layers("jvm.loadavg_end") = Jvm.loadAvg
    if (a.trace) {
      L("trace.overhead_pct") = (Pct.median(traced.toSeq) / Pct.median(untraced.toSeq) - 1.0) * 100.0
      Main.traceLayers(res, Seq(tracer), traced.length)
      tracer.writeTo(s"${a.out}.spans.jsonl")
    }
    spark.stop()
  }
}
