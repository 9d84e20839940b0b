package graft.perf

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{QueryModule, Sessions, operators}
import graft.pipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark process: a single closed-loop client on `local[n]`.
  *
  * Setup (Sessions.base, locating inputs, one untimed warm-up pass), then
  * timed passes over the workload's ops until `--seconds` have elapsed,
  * then output checks outside the timed passes. Writes `records.jsonl`
  * (one record per op execution) and `summary.json` into `--out`;
  * `perfbench/run.py` turns those into the benchmark's result line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores N
  *   --data DIR --out DIR --start-ms EPOCH_MS [--warmup-data DIR] [--ops a,b]
  *   [--dates d1,d2] [--tx-dates d1,d2] [--warmup-days N] [--etl-data DIR] [--landing DIR]
  */
object Main {

  val modules: Seq[(String, QueryModule)] = Seq(
    "SearchHistory" -> operators.SearchHistory,
    "Transactions" -> operators.Transactions,
    "Relational" -> operators.Relational,
    "Reporting" -> operators.Reporting,
    "Curation" -> operators.Curation,
    "Dedup" -> operators.Dedup,
    "Similarity" -> operators.Similarity,
    "TextAnalysis" -> operators.TextAnalysis,
    "Multimodal" -> operators.Multimodal,
    "Crawl" -> operators.Crawl,
    "EventTime" -> operators.EventTime)

  private lazy val registry: Map[String, (String, (SparkSession, String) => DataFrame)] =
    modules.flatMap { case (m, q) => q.queries.map { case (n, f) => n -> (m -> f) } }.toMap

  /** Default op lists of the query workloads (`--ops` overrides). */
  val workloadOps: Map[String, Seq[String]] = Map(
    "warehouse_sf1" -> Seq("q3_join_topk", "q5_star_join", "tx_struct_slots",
      "q_topk_grouped_agg", "q_hll_rollup", "q_percentiles_sketch"),
    "iterative_sf01" -> Seq("dedup_keeper_centrality", "q_recursive_tree",
      "txt_bpe_train"),
    "cold_build" -> Seq("pipe_lake_health", "sim_ivf_lake_compacted", "q_join_salted"))

  /** Warm-up of `cold_build`: queries that touch no artifact store,
    * written to parquet, plus the streaming op into a scratch directory.
    */
  val coldWarmup: Seq[String] = Seq("q3_join_topk", "evt_sessions")

  /** Fewest cold passes of a `cold_build` run (pass_s is their median). */
  val coldPasses = 2

  final case class Op(name: String, module: String, run: Ctx => Unit)

  /** What an op body sees: the session, its child spans, its sink. */
  final class Ctx(val spark: SparkSession, val sink: (DataFrame, String) => Unit) {
    val spans = mutable.ArrayBuffer[Span]()
    val extra = mutable.Map[String, Double]().withDefaultValue(0.0)
    def span[T](name: String)(body: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Trace.SpanProp)
      sc.setLocalProperty(Trace.SpanProp, name)
      val t0 = Clock.ms
      try body
      finally {
        spans += Span(name, t0, Clock.ms)
        sc.setLocalProperty(Trace.SpanProp, prev)
      }
    }
  }

  /** Wall clock with sub-millisecond resolution on the epoch-ms axis the
    * listener events use.
    */
  object Clock {
    private val base = System.currentTimeMillis().toDouble
    private val n0 = System.nanoTime()
    def ms: Double = base + (System.nanoTime() - n0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (sys.env.contains("SPARK_GRAFT_CONF")) {
      System.err.println("refusing to run: SPARK_GRAFT_CONF is set")
      sys.exit(2)
    }
    val code = try { new Run(a).apply(); 0 } catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  final class Run(a: Map[String, String]) {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tracing = a("trace") == "1"
    val cores = a("cores").toInt
    val data = a("data")
    val out = new File(a("out"))
    val startMs = a("start-ms").toDouble
    val tmp = new File(sys.props("java.io.tmpdir"))
    val records = mutable.ArrayBuffer[String]()
    val passes = mutable.ArrayBuffer[mutable.Map[String, Any]]()
    var spark: SparkSession = _
    var trace: Trace = _
    var firstTimedMs = 0.0
    var peakRssMb = 0.0

    def apply(): Unit = {
      out.mkdirs()
      val t0 = Clock.ms
      spark = Sessions.base(s"local[$cores]", cores)
      val sessionS = (Clock.ms - t0) / 1e3
      trace = new Trace(spark)
      val noop = (df: DataFrame, _: String) =>
        df.write.format("noop").mode("overwrite").save()
      val verifyDir = new File(out, "verify")
      val toParquet = (df: DataFrame, name: String) =>
        df.write.mode("overwrite").parquet(new File(verifyDir, s"$name.parquet").getPath)
      val summary = mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "seed" -> seed, "cores" -> cores,
        "trace" -> tracing, "sessions_base_s" -> sessionS,
        "conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sortBy(_._1).toMap)

      workload match {
        case "etl_backfill" => etl(data)
        case "cold_build" => cold(noop, toParquet)
        case "train" => // one JVM touching every code path, for the class-data archive
          queries(noop, toParquet)
          etl(a("etl-data"))
        case _ => queries(noop, toParquet)
      }
      summary("setup_s") = (firstTimedMs - startMs) / 1e3
      summary("peak_rss_mb") = peakRssMb
      summary("passes") = passes.toSeq
      summary("debris") = debris()
      spark.stop()
      Files.write(new File(out, "records.jsonl").toPath,
        records.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.write(new File(out, "summary.json").toPath, Json(summary.toMap).getBytes("UTF-8"))
    }

    // ---------------------------------------------------------------- ops

    def queryOp(name: String, dir: () => String): Op = {
      val (module, fn) = registry.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      Op(name, module, ctx => {
        val df = ctx.span(s"operators.$module.call")(fn(ctx.spark, dir()))
        ctx.span("execute")(ctx.sink(df, name))
      })
    }

    def opNames: Seq[String] = a.get("ops").map(_.split(',').toSeq.filter(_.nonEmpty))
      .getOrElse(workloadOps.getOrElse(workload, workloadOps.values.flatten.toSeq.distinct))

    /** Seeded per-pass op order. */
    def order(ops: Seq[Op], pass: Int): Seq[Op] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(ops)

    // ----------------------------------------------------------- workloads

    def queries(noop: (DataFrame, String) => Unit,
        toParquet: (DataFrame, String) => Unit): Unit = {
      val ops = opNames.map(queryOp(_, () => data))
      writeOracleSql()
      // the warm-up doubles as the output check; it may run on a smaller
      // dataset than the timed passes (`--warmup-data`)
      val warm = a.getOrElse("warmup-data", data)
      runPass(opNames.map(queryOp(_, () => warm)), 0, "warmup", toParquet)
      timedLoop(p => runPass(order(ops, p), p, "timed", noop))
    }

    /** Cold passes against the process's artifact stores, which start
      * empty (its tmp dir is new). Every store keys its artifacts on the
      * source directory, so each cold pass runs over its own copy of the
      * dataset and builds everything again. Each cold pass is followed by
      * a reuse pass over the same copy, served from what it published. At
      * least [[coldPasses]] cold passes run, more while `--seconds` allows;
      * the first one also pays for loading and compiling the build code.
      * Cold passes run in the declared order, since a build's cost depends
      * on which builds ran before it; the seed orders the reuse passes.
      */
    def cold(noop: (DataFrame, String) => Unit,
        toParquet: (DataFrame, String) => Unit): Unit = {
      val scratch = new File(tmp, "warmup")
      runPass(coldWarmup.map(queryOp(_, () => data)) :+ streamOp(scratch.getPath), 0, "warmup",
        (df, name) => df.write.mode("overwrite").parquet(new File(scratch, name).getPath))
      Warehouse.deleteRecursively(scratch)
      require(artifactEntries().isEmpty, "cold_build warm-up touched the artifact store")
      def ops(p: Int): Seq[Op] = {
        val copy = new File(tmp, s"data_$p").getPath
        opNames.map(queryOp(_, () => copy)) :+ streamOp(new File(tmp, s"stream_$p").getPath)
      }
      writeOracleSql()
      var p = 0
      timed {
        while (p < coldPasses || Clock.ms - firstTimedMs < seconds * 1e3) {
          p += 1
          copyTree(Paths.get(data), Paths.get(tmp.getPath, s"data_$p"))
          val cold = runPass(ops(p), p, "timed", noop)
          val reuse = runPass(order(ops(p), p), p, "reuse", noop)
          // an artifact is reused when the op that built it cold builds
          // nothing on the second pass
          def built(r: mutable.Map[String, Any]) = r("built_by_op").asInstanceOf[Map[String, Double]]
          val (b0, b1) = (built(cold), built(reuse))
          cold("reuse_pass") = Map(
            "reused" -> b0.collect { case (op, n) if b1(op) == 0 => n }.sum,
            "built" -> b1.values.sum)
        }
      }
      runPass(ops(p), 0, "verify", toParquet)
    }

    /** `StreamRunner.upsertToWarehouse` over the daily search CSVs in
      * `--landing`, one file per micro-batch, into a warehouse and a
      * checkpoint under `dir`; its result is the per-day row count of the
      * table. A second run on the same checkpoint finds nothing new.
      */
    def streamOp(dir: String): Op = Op("stream_search_upsert", "streaming", ctx => {
      val wh = new Warehouse(s"$dir/stream_wh")
      val stream = ctx.spark.readStream.schema(SearchHistoryPipeline.rawSchema)
        .option("header", "true").option("maxFilesPerTrigger", "1").csv(a("landing"))
        .withColumn("ds", org.apache.spark.sql.functions.expr(
          "try_cast(substring(created_at, 1, 10) AS DATE)"))
        .filter("ds IS NOT NULL")
      ctx.span("execute") {
        graft.streaming.StreamRunner.upsertToWarehouse(stream, wh, "search_stream", "ds",
          s"$dir/stream_ckpt").awaitTermination()
        ctx.sink(wh.read(ctx.spark, "search_stream")
          .selectExpr("CAST(ds AS STRING) AS ds").groupBy("ds").count(), "stream_search_upsert")
      }
    })

    /** The backfill's first `--warmup-days` dates are the warm-up pass;
      * every timed pass resumes from the warehouse it left (history the
      * `daily_top1` stage rescans) and runs the remaining dates in order.
      */
    def etl(data: String): Unit = {
      val dates = a("dates").split(',').map(LocalDate.parse).toSeq
      val txDates = a("tx-dates").split(',').map(LocalDate.parse).toSet
      val (warmDates, timedDates) = dates.splitAt(a("warmup-days").toInt)
      def ops(ds: Seq[LocalDate], wh: () => Warehouse): Seq[Op] = ds.flatMap { d =>
        val search = Op(s"search_history@$d", "pipeline", ctx =>
          backfill(ctx, wh(), SearchHistoryPipeline(s"$data/csv"), d))
        if (txDates(d)) Seq(search, Op(s"transactions@$d", "pipeline", ctx =>
          backfill(ctx, wh(), TransactionsPipeline(), d)))
        else Seq(search)
      }
      val history = new Warehouse(new File(tmp, "wh_history").getPath)
      copyTree(Paths.get(data, "unified_events"), Paths.get(history.root, "unified_events"))
      runPass(ops(warmDates, () => history), 0, "warmup", null)
      var wh: Warehouse = null
      timedLoop { p =>
        if (wh != null) Warehouse.deleteRecursively(new File(wh.root))
        wh = new Warehouse(new File(tmp, s"wh_timed_$p").getPath)
        copyTree(Paths.get(history.root), Paths.get(wh.root))
        val rec = runPass(ops(timedDates, () => wh), p, "timed", null) // dates run in order
        // a pass whose tables cannot be read back fails the check
        rec("check") = try etlCheck(wh) catch { case NonFatal(e) => Map("error" -> e.toString) }
        rec("warehouse_bytes") = dataFiles(new File(wh.root))
          .filterNot(_._1.contains("unified_events")).values.sum.toDouble
      }
      Seq(wh, history).filter(_ != null).foreach(w => Warehouse.deleteRecursively(new File(w.root)))
    }

    /** One `BatchRunner.run` for one date, with each stage's `run` wrapped
      * in a `pipeline.<stage>` span.
      */
    def backfill(ctx: Ctx, wh: Warehouse, p: Pipeline, d: LocalDate): Unit = {
      val wrapped = p.copy(stages = p.stages.map(s => s.copy(run = (sp, w, c) =>
        ctx.span(s"pipeline.${s.name}")(s.run(sp, w, c)))))
      val before = dataFiles(new File(wh.root))
      val report = BatchRunner.run(ctx.spark, wh, wrapped, Seq(d))
      val after = dataFiles(new File(wh.root))
      val fresh = after.filter { case (f, _) => !before.contains(f) }
      ctx.extra("retries") += report.retries.values.sum
      ctx.extra("wh_files_written") += fresh.size
      ctx.extra("wh_bytes_written") += fresh.values.sum
    }

    /** Values the generator derives from its seed, read back from the
      * warehouse the pass left.
      */
    def etlCheck(wh: Warehouse): Map[String, Any] = {
      val top = wh.read(spark, SearchHistoryPipeline.reportTable)
        .selectExpr("CAST(created_date AS STRING)", "search_keyword", "search_result_count")
        .collect().map(r => r.getString(0) -> Seq(r.getString(1), r.getLong(2))).toMap
      val typed = wh.read(spark, SearchHistoryPipeline.typedTable)
      val nulls = typed.selectExpr(
        "count_if(search_result_count IS NULL)", "count_if(user_id IS NULL)", "count(*)").head()
      Map("top1" -> top, "null_counts" -> nulls.getLong(0), "null_users" -> nulls.getLong(1),
        "search_rows" -> nulls.getLong(2),
        "tx_rows" -> wh.read(spark, TransactionsPipeline.finalTable).count())
    }

    // -------------------------------------------------------------- passes

    /** Timed passes until `--seconds` have elapsed (at least one). */
    def timedLoop(pass: Int => Unit): Unit = timed {
      var p = 1
      while (p == 1 || Clock.ms - firstTimedMs < seconds * 1e3) { pass(p); p += 1 }
    }

    def timed(body: => Unit): Unit = if (workload != "train") {
      firstTimedMs = Clock.ms
      body
      peakRssMb = vmHwmMb() // before any output check runs
    }

    /** Run `ops` once, in order, one at a time; returns the pass record
      * (kept in `passes` for timed and reuse passes).
      */
    def runPass(ops: Seq[Op], p: Int, kind: String,
        sink: (DataFrame, String) => Unit): mutable.Map[String, Any] = {
      val traced = tracing && kind != "warmup" && kind != "verify"
      if (traced) trace.install()
      val t0 = Clock.ms
      val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
      val lat = mutable.ArrayBuffer[Double]()
      val builtByOp = mutable.Map[String, Double]()
      var failed = 0
      ops.zipWithIndex.foreach { case (op, i) =>
        val r = runOp(op, s"$kind$p.$i", p, kind, sink, traced)
        lat += r._1
        if (!r._2) failed += 1
        r._3.foreach { case (k, v) => sums(k) += v }
        builtByOp(op.name) = r._3.getOrElse("artifacts.built", 0.0)
        r._3.get("cache.bytes").foreach(b =>
          sums("cache.peak_bytes") = math.max(sums("cache.peak_bytes"), b))
      }
      val passS = (Clock.ms - t0) / 1e3
      if (traced) trace.uninstall()
      val rec = mutable.LinkedHashMap[String, Any]("pass" -> p, "kind" -> kind,
        "traced" -> traced, "pass_s" -> passS, "ops" -> ops.size, "failed" -> failed,
        "latencies" -> lat.toSeq, "ops_order" -> ops.map(_.name), "layers" -> sums.toMap,
        "built_by_op" -> builtByOp.toMap)
      if (kind == "timed" || kind == "reuse") passes += rec
      rec
    }

    /** Time one op; returns (wall seconds, ok, layer counters). */
    def runOp(op: Op, id: String, p: Int, kind: String,
        sink: (DataFrame, String) => Unit, traced: Boolean): (Double, Boolean, Map[String, Double]) = {
      val sc = spark.sparkContext
      val ctx = new Ctx(spark, sink)
      val art0 = if (workload == "cold_build") artifactEntries() else Set.empty[String]
      if (traced) trace.begin(id)
      val t0 = Clock.ms
      val err = try { op.run(ctx); None } catch { case NonFatal(e) => Some(e) }
      val t1 = Clock.ms
      val wall = (t1 - t0) / 1e3
      val layers = mutable.LinkedHashMap[String, Double]()
      if (traced) {
        layers("cache.rdds_left") = sc.getPersistentRDDs.size.toDouble
        layers("cache.bytes") = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
      }
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (traced) {
        val st = trace.end(id)
        val jobs = st.jobs.map { case (_, s, a, b) => Span(s, a, b) }.toSeq
        val root = Span("op", t0, t1)
        val self = Trace.selfTimes(root, ctx.spans.toSeq, st.plans.toSeq, jobs)
        self.foreach { case (k, v) => layers(s"self.$k") = v }
        layers("spark.jobs") = jobs.size.toDouble
        layers("driver.outside_jobs_s") = wall - Trace.covered(jobs)
        layers("catalyst.plan_s") = Trace.covered(st.plans.toSeq)
        if (modules.exists(_._1 == op.module)) {
          layers(s"operators.${op.module}.call_s") =
            ctx.spans.filter(_.name.endsWith(".call")).map(_.dur).sum / 1e3
          layers(s"operators.${op.module}.eager_jobs") =
            jobs.count(_.name == s"operators.${op.module}.call").toDouble
        }
        ctx.spans.filter(_.name.startsWith("pipeline.")).foreach { s =>
          layers(s"${s.name}_s") = layers.getOrElse(s"${s.name}_s", 0.0) + s.dur / 1e3
        }
        st.num.foreach { case (k, v) =>
          if (k.startsWith("records_read:pipeline.load_raw"))
            layers("sources.CsvSource.rows_read") = v
          else if (k.startsWith("bytes_read:pipeline.") && !k.endsWith("load_raw"))
            layers("warehouse.bytes_scanned") = layers.getOrElse("warehouse.bytes_scanned", 0.0) + v
          else if (!k.contains(":")) layers(k) = v
        }
      }
      ctx.extra.foreach { case (k, v) => layers(k) = v }
      if (workload == "cold_build") {
        val art1 = artifactEntries()
        layers("artifacts.built") = (art1 -- art0).size.toDouble
      }
      val rec = mutable.LinkedHashMap[String, Any]("op" -> op.name, "module" -> op.module,
        "pass" -> p, "kind" -> kind, "start_ms" -> t0, "wall_s" -> wall,
        "ok" -> err.isEmpty, "error" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}")
          .map(_.take(500)).orNull,
        "layers" -> layers.toMap)
      records += Json(rec.toMap)
      err.foreach(e => System.err.println(s"[perfbench] ${op.name} failed: $e"))
      (wall, err.isEmpty, layers.toMap)
    }

    // ------------------------------------------------------------- helpers

    def writeOracleSql(): Unit = {
      val sql = graft.SparkEntry.oracleSql.filter { case (n, _) => opNames.contains(n) }
      Files.write(new File(out, "oracle_sql.json").toPath, Json(sql).getBytes("UTF-8"))
    }

    def copyTree(src: Path, dst: Path): Unit =
      Files.walk(src).iterator().asScala.foreach { f =>
        val t = dst.resolve(src.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(t)
        else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
      }

    /** Data files (no checksums, markers or hidden files) under `root`. */
    def dataFiles(root: File): Map[String, Long] =
      if (!root.exists()) Map.empty
      else Files.walk(root.toPath).iterator().asScala
        .filter(Files.isRegularFile(_))
        .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        .map(f => f.toString -> Files.size(f)).toMap

    private val scratchNames = Seq("__bld", "__build", "__stage__", "__quarantine__")

    /** Published entries of the artifact stores (`graft_*` under the
      * process's tmp dir): everything but scratch prefixes and locks.
      */
    def artifactEntries(): Set[String] =
      Option(tmp.listFiles()).getOrElse(Array.empty[File]).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq)
        .map(f => s"${f.getParentFile.getName}/${f.getName}")
        .filterNot(n => n.endsWith("__LOCK") || scratchNames.exists(n.contains))
        .toSet

    /** Leftover scratch entries in the artifact stores, and their bytes. */
    def debris(): Map[String, Any] = {
      val stores = Option(tmp.listFiles()).getOrElse(Array.empty[File]).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      val left = stores.flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq)
        .filter(f => scratchNames.exists(f.getName.contains))
      val storeBytes = stores.map(d => dataFiles(d).values.sum).sum
      Map("entries" -> left.size, "names" -> left.map(_.getName).take(20),
        "store_bytes" -> storeBytes)
    }

    def vmHwmMb(): Double =
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
