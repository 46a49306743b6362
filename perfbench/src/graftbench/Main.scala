package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark session in one JVM: set-up, the timed phase of a
  * workload, then the untimed output dump for the output check.
  *
  * The engine is driven only through `SparkEntry.queries(name)(spark,
  * dataDir)`, the DataFrame it returns, `ScratchIndex.dir` and Spark's
  * public listener APIs. Each query is timed from just before the
  * builder call to the end of a full materialization of its result
  * (`write.format("noop")`), which evaluates every output column and
  * keeps the final ORDER BY.
  *
  * Usage: graftbench.Main <workload> <dataDir> <seed> <seconds>
  *          <trace 0|1> <workDir> <result.json>
  */
object Main {

  final case class Timed(qid: Int, name: String, pass: Int,
      buildS: Double, execS: Double, error: Option[String],
      want: Map[String, Int])

  // phase timestamps in the JVM log, for reading a slow run
  private val t00 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%.2f $msg")

  def main(argv: Array[String]): Unit = {
    val Array(wName, dataDir, seedS, secondsS, traceS, workDir, outFile) =
      argv
    val w = Workloads.byName(wName)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = new File(workDir)
    val jvmStartMs =
      ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cpus = Runtime.getRuntime.availableProcessors()

    // host window before the run; its time is not charged to set-up
    val p0 = System.nanoTime()
    val hostPre = Probes.host(cpus, work, new File(dataDir))
    val probeS = (System.nanoTime() - p0) / 1e9

    log("probes done")
    val spark = session(cpus)
    log("session up")
    // the warm workload's untimed pass below subsumes this bring-up
    if (w.cold) warmSession(spark, dataDir, w.streamWarmup)
    log("session warm")
    val scratchRoot = graft.util.ScratchIndex.dir("probe").getParentFile
    val baseConf = spark.conf.getAll
    val baseViews = Probes.tempViews(spark)
    val tracer = new Tracer(spark, scratchRoot.toString, trace)

    val registry = graft.SparkEntry.queries
    val order = Workloads.order(w, seed)
    val unknown = order.filterNot(registry.contains)
    require(unknown.isEmpty, s"unregistered queries: ${unknown.mkString(", ")}")

    def runQuery(name: String): (Either[Throwable, DataFrame], Long, Long, Long) = {
      val t0 = System.nanoTime()
      var t1 = t0
      val r =
        try {
          val df = registry(name)(spark, dataDir)
          t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          Right(df)
        } catch { case e: Throwable => Left(e) }
      if (r.isLeft && t1 == t0) t1 = System.nanoTime()
      (r, t0, t1, System.nanoTime())
    }
    def errText(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
        .nextOption().getOrElse("").take(200)

    // the warm workload's untimed pass fills codegen cache, JIT and
    // artifacts; it belongs to set-up
    val warmupErrors = mutable.ArrayBuffer.empty[String]
    var warmupNoops = 0
    if (!w.cold) order.foreach { n =>
      runQuery(n)._1 match {
        case Right(_) => warmupNoops += 1
        case Left(e) => warmupErrors += s"$n: ${errText(e)}"
      }
    }
    tracer.drain(warmupNoops)
    tracer.noopCounts.clear()

    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def ms(nano: Long): Double = epoch0 + (nano - nano0) / 1e6
    val setupS = (ms(System.nanoTime()) - jvmStartMs) / 1e3 - probeS
    log("timed phase starts")

    // ---- timed phase ----
    val timed = mutable.ArrayBuffer.empty[Timed]
    val windows = mutable.ArrayBuffer.empty[Window]
    val dfAnalysis = mutable.Map.empty[Int, (Double, Double)]
    val lastDfs = mutable.LinkedHashMap.empty[String, DataFrame]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val hygiene = mutable.ArrayBuffer.empty[Probes.Hygiene]
    val scratchNew = mutable.ArrayBuffer.empty[(Int, Long, Double)]
    var artifactReads, artifactHits, sourceFiles = 0
    val codegen0 = (CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val gc0 = Probes.gcSeconds()
    val jit0 = Probes.jitSeconds()
    Probes.resetHeapPeak()
    def artifacts(): Map[String, File] =
      Option(scratchRoot.listFiles()).getOrElse(Array.empty[File])
        .filter(f => new File(f, "_SUCCESS").exists())
        .map(f => f.getName -> f).toMap

    val phaseStart = System.nanoTime()
    var pass = 0
    while (pass < w.passes ||
        (!w.cold && (System.nanoTime() - phaseStart) / 1e9 < seconds)) {
      pass += 1
      lastDfs.clear()
      val pc0 = Probes.cpuSeconds()
      order.foreach { name =>
        val qid = timed.size
        val before = if (trace) artifacts() else Map.empty[String, File]
        val (r, t0, t1, t2) = runQuery(name)
        val want = r.toOption.map(df =>
          Plans.opCounts(df.queryExecution.optimizedPlan)).getOrElse(Map.empty)
        timed += Timed(qid, name, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
          r.left.toOption.map(errText), want)
        r.foreach(df => lastDfs(name) = df)
        if (trace) {
          windows += Window(qid, name, ms(t0), ms(t1), ms(t2))
          r.foreach { df =>
            df.queryExecution.tracker.phases.get("analysis").foreach(p =>
              dfAnalysis(qid) = (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
            val files = df.inputFiles.map(new org.apache.hadoop.fs.Path(_)
              .toUri.getPath)
            val read = files.filter(_.startsWith(scratchRoot.getPath))
              .map(_.stripPrefix(scratchRoot.getPath + "/").takeWhile(_ != '/'))
              .distinct
            artifactReads += read.length
            artifactHits += read.count(before.contains)
            sourceFiles += files.count(_.startsWith(
              new File(dataDir).getCanonicalPath)).toInt
          }
          val built = artifacts() -- before.keySet
          if (built.nonEmpty) scratchNew += ((qid,
            built.values.map(Probes.bytesUnder).sum, (t1 - t0) / 1e9))
          hygiene += Probes.hygiene(spark, baseConf, baseViews)
        }
      }
      // the client's wait: the harness's own work between queries
      // (parity plans, traced reads) is not part of it
      passWall += timed.filter(_.pass == pass).map(t => t.buildS + t.execS).sum
      passCpu += Probes.cpuSeconds() - pc0
    }
    val codegenS = (CodeGenerator.compileTime - codegen0._1) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._2
    val gcS = Probes.gcSeconds() - gc0
    val jitS = Probes.jitSeconds() - jit0
    val heapPeakMb = Probes.heapPeakMb()
    val scratchMb = Probes.bytesUnder(scratchRoot) / 1048576.0
    val rssMb = Probes.peakRssMb()

    log("timed phase done")
    // ---- plan parity: the timed noop plan keeps the df's operators ----
    val ok = timed.filter(_.error.isEmpty)
    tracer.drain(ok.size)
    val got = tracer.noopCounts.asScala.toVector
    val dropped: Map[Int, Seq[String]] = ok.zipWithIndex.map { case (t, i) =>
      t.qid -> got.lift(i).map(Plans.dropped(t.want, _))
        .getOrElse(Seq("noop plan not observed"))
    }.toMap

    log("parity done")
    // ---- untimed output dump for the output check ----
    val outDir = new File(work, "out")
    val oracle = graft.SparkEntry.oracleSql
    val dumpErrors = mutable.Map.empty[String, String]
    lastDfs.foreach { case (name, df) =>
      try {
        df.write.mode("overwrite").parquet(new File(outDir, s"$name/a").getPath)
        // rows-only queries: an independent second run, fingerprinted
        // against the first by the checker
        if (!oracle.contains(name))
          registry(name)(spark, dataDir).write.mode("overwrite")
            .parquet(new File(outDir, s"$name/b").getPath)
      } catch { case e: Throwable => dumpErrors(name) = errText(e) }
    }
    Files.writeString(Paths.get(outDir.getPath, "oracle_sql.json"),
      Json(order.flatMap(n => oracle.get(n).map(n -> _)).toMap))
    log("dump done")

    val layers: Map[String, Any] =
      if (!trace) Map.empty
      else {
        val spans = tracer.spans(windows.toSeq, dfAnalysis.toMap)
        val self = Spans.selfTimes(spans)
        Files.write(Paths.get(work.getPath, s"spans-$wName-$seed.jsonl"),
          spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
            "qid" -> s.qid, "query" -> windows(s.qid).name, "name" -> s.name,
            "start_ms" -> s.start, "end_ms" -> s.end,
            "self_ms" -> self(s.id)))).asJava)
        val bySelf = spans.groupBy(_.name).map { case (n, ss) =>
          s"span.$n.self_s" -> ss.map(s => self(s.id)).sum / 1e3 }
        val dfAnalysisS = dfAnalysis.values.map(p => p._2 - p._1).sum / 1e3
        val lt = tracer.layerTotals(windows.toSeq)
        val last = hygiene.lastOption
        lt ++ bySelf ++ Map(
          "catalyst.analysis_s" -> (lt("catalyst.analysis_s") + dfAnalysisS),
          "catalyst.plans" -> (lt("catalyst.plans") + dfAnalysis.size),
          "ops.build_s" -> timed.map(_.buildS).sum,
          "exec.s" -> timed.map(_.execS).sum,
          "scratchindex.builds" -> scratchNew.size.toDouble,
          "scratchindex.build_mb" -> scratchNew.map(_._2).sum / 1048576.0,
          "scratchindex.build_call_s" -> scratchNew.map(_._3).sum,
          "scratchindex.reads" -> artifactReads.toDouble,
          "scratchindex.hit_ratio" ->
            (if (artifactReads == 0) 0.0 else artifactHits.toDouble / artifactReads),
          "sources.files" -> sourceFiles.toDouble,
          "codegen.compile_s" -> codegenS,
          "codegen.compiles" -> compiles.toDouble,
          "jvm.gc_s" -> gcS,
          "jvm.jit_s" -> jitS,
          "jvm.heap_peak_mb" -> heapPeakMb,
          "session.leaked_views" -> last.map(_.leakedViews).getOrElse(0).toDouble,
          "session.conf_drift" -> hygiene.map(_.confDrift).maxOption.getOrElse(0).toDouble,
          "session.cached_relations" -> last.map(_.cachedRelations).getOrElse(0).toDouble)
      }

    val hostPost = Probes.host(cpus, work, new File(dataDir))
    def host(h: Probes.Host) = Map("cpu_par_x" -> h.cpuParX,
      "io_mbps" -> h.ioMbps, "scan_mbps" -> h.scanMbps)
    val result = Map(
      "workload" -> wName, "seed" -> seed, "cpus" -> cpus,
      "passes" -> pass, "setup_s" -> setupS,
      "pass_wall_s" -> passWall.toSeq, "pass_cpu_s" -> passCpu.toSeq,
      "peak_rss_mb" -> rssMb, "scratch_mb" -> scratchMb,
      "warmup_errors" -> warmupErrors.toSeq,
      "host_pre" -> host(hostPre), "host_post" -> host(hostPost),
      "queries" -> timed.map(t => Map(
        "name" -> t.name, "pass" -> t.pass, "build_s" -> t.buildS,
        "exec_s" -> t.execS, "error" -> t.error,
        "dropped" -> dropped.getOrElse(t.qid, Seq.empty))).toSeq,
      "dump_errors" -> dumpErrors.toMap,
      "layers" -> layers)
    Files.writeString(Paths.get(outFile), Json(result))
    log("result written")
    spark.stop()
    log("session stopped")
    sys.exit(0)
  }

  /** The session `graft.Bench` times: local[N] with N shuffle
    * partitions, codegen cache 5000, scratch-rooted local and
    * warehouse dirs, and the fork-free local file system.
    */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", graft.util.ScratchIndex.sparkLocalDir())
      .config("spark.sql.warehouse.dir", graft.util.ScratchIndex.warehouseDir())
      .config("spark.hadoop.fs.file.impl", "graft.util.BareLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.util.BareLocalFs")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bench's session bring-up on plans outside any workload, plus its
    * streaming-engine bring-up (a bounded stateful drain per state
    * store provider) when the workload streams.
    */
  def warmSession(spark: SparkSession, dataDir: String,
      streams: Boolean): Unit = {
    spark.range(1000).selectExpr("sum(id) AS s").collect()
    spark.read.parquet(s"$dataDir/nation.parquet").count()
    if (streams) {
      import org.apache.spark.sql.functions._
      val src = graft.util.ScratchIndex.dir("warm_stream_src").toString
      spark.range(0, 200)
        .selectExpr("timestamp_micros(1700000000000000 + id*1000000) AS ts")
        .coalesce(1).write.mode("overwrite").parquet(src)
      val key = "spark.sql.streaming.stateStore.providerClass"
      Seq(None, Some("org.apache.spark.sql.execution.streaming.state" +
          ".RocksDBStateStoreProvider")).foreach { provider =>
        graft.util.Confs.withConfs(spark)(
          Seq("spark.sql.shuffle.partitions" -> "4") ++
            provider.map(key -> _): _*) {
          val q = spark.readStream.schema("ts TIMESTAMP").parquet(src)
            .withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "10 seconds"))
            .agg(count(lit(1)).as("n"))
            .writeStream.outputMode("append")
            .option("checkpointLocation", graft.util.ScratchIndex.dir(
              s"ck_warmup_${provider.isDefined}").toString)
            .format("memory").queryName(s"warmup_${provider.isDefined}")
            .start()
          try q.processAllAvailable() finally q.stop()
        }
      }
    }
  }
}
