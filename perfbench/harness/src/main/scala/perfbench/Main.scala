package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark JVM. Modes:
  *   catalog <out.json>                 query names, workload rules' inputs, oracle SQL
  *   run <key=value>...                 one measured pass, result written as JSON
  * `perfbench/run.py` drives both; see `BENCHMARK.json` for the design.
  */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("catalog") => catalog(Paths.get(args(1)))
    case Some("run") => run(args.tail.map { a =>
      val Array(k, v) = a.split("=", 2); k -> v }.toMap)
    case _ => System.err.println("usage: catalog <out> | run key=value..."); sys.exit(2)
  }

  def catalog(out: Path): Unit = Files.writeString(out, Json(Map(
    "queries" -> graft.SparkEntry.queries.keys.toSeq.sorted,
    "streaming" -> graft.operators.TierD.streamingNames.toSeq.sorted,
    "oracle_sql" -> graft.SparkEntry.oracleSql)))

  /** Exactly the Spark confs of `graft.Bench`. */
  def session(sfDir: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes",
        graft.util.GraftConf.adaptiveSplitBytes(sfDir, cpus).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.GraftProfiler.install(spark)
    graft.util.GraftProfiler.installPhases(spark)
    spark
  }

  /** Bytes under graft's scratch directory. */
  def tmpBytes(): Long = {
    val base = Paths.get(graft.util.TmpDir.base)
    if (!Files.exists(base)) 0L
    else {
      val s = Files.walk(base)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Live tables in graftmem's JVM-wide store. */
  def graftmemTables(): Int = {
    val obj = graft.sources.GraftMemCatalog
    val f = obj.getClass.getDeclaredFields.find(f => f.getName.endsWith("$tables") ||
      f.getName == "tables").get
    f.setAccessible(true)
    f.get(obj).asInstanceOf[java.util.Map[_, _]].size
  }

  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Names in a workload list file; '#' starts a comment. */
  def readList(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.map(_.split("#", 2)(0).trim).filter(_.nonEmpty).toSeq

  /** Refuses to run unless the workload lists partition the declared
    * queries exactly and `streaming` is TierD.streamingNames, so a new or
    * renamed query cannot go unmeasured.
    */
  def checkPartition(dir: Path, declared: collection.Set[String]): Unit = {
    val lists = Seq("batch", "lakehouse", "streaming").map(w => w -> readList(dir.resolve(s"$w.txt")))
    val all = lists.flatMap(_._2)
    val problems = Seq(
      "listed twice" -> all.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n },
      "not declared" -> all.filterNot(declared.contains),
      "in no workload" -> declared.filterNot(all.toSet.contains),
      "streaming list differs from TierD.streamingNames" ->
        (lists.last._2.toSet.diff(graft.operators.TierD.streamingNames) ++
          graft.operators.TierD.streamingNames.diff(lists.last._2.toSet)))
      .filter(_._2.nonEmpty)
    if (problems.nonEmpty) {
      problems.foreach { case (what, ns) =>
        System.err.println(s"[perfbench] workload lists: $what: ${ns.toSeq.sorted.mkString(", ")}") }
      sys.exit(3)
    }
  }

  private def secs(t0: Double, t1: Double): Double = (t1 - t0) / 1000.0

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ").take(600)}"

  /** Percentile of sorted samples, linearly interpolated between ranks
    * (the median of an even count is the mean of the middle two).
    */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    val h = (sorted.size - 1) * p
    val lo = h.toInt
    if (lo + 1 >= sorted.size) sorted(lo)
    else sorted(lo) + (h - lo) * (sorted(lo + 1) - sorted(lo))
  }

  def run(o: Map[String, String]): Unit = {
    val sf = o("sf")
    val names = readList(Paths.get(o("names"))).toVector
    val trace = o.getOrElse("trace", "0") == "1"
    val expected: Map[String, (Long, String)] = o.get("expected").map { p =>
      Files.readAllLines(Paths.get(p)).asScala.filter(_.nonEmpty).map { l =>
        val Array(n, r, d) = l.split("\t"); n -> (r.toLong, d)
      }.toMap
    }.getOrElse(Map.empty)
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val queries = graft.SparkEntry.queries
    o.get("lists").foreach(d => checkPartition(Paths.get(d), queries.keySet))
    val unknown = names.filterNot(queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[perfbench] not declared in SparkEntry.queries: ${unknown.mkString(", ")}")
      sys.exit(3)
    }

    // Set-up, from JVM start to the first timed query: session build, a
    // codegen warm-up query and the streaming warm-up, as in graft.Bench.
    // None of them touches a query memo, so every memo keyed by session
    // starts empty; graftmem's JVM-wide store is cleared before the pass.
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(sf, cpus)
    val t1 = Trace.now()
    spark.range(100000).selectExpr("sum(id * 2)").collect()
    val warmErr = try { graft.streaming.StreamingDemo.warmStreaming(spark); None }
    catch { case e: Throwable => Some(message(e)) }
    val t2 = Trace.now()
    warmErr.foreach(m => System.err.println(s"[perfbench] warmStreaming failed: $m"))
    val setupS = secs(t0, t2)
    val setup = Map("setup_s" -> setupS, "session_s" -> secs(t0, t1),
      "warm_s" -> secs(t1, t2), "warm_error" -> warmErr)
    val sc = spark.sparkContext
    graft.sources.GraftMemCatalog.clearAll()
    val tr = if (trace) Some(new Trace(spark)) else None
    tr.foreach(_.install())
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gc(): (Double, Double) = (gcBeans.map(_.getCollectionTime).sum / 1000.0,
      gcBeans.map(_.getCollectionCount).sum.toDouble)
    val jit = ManagementFactory.getCompilationMXBean
    val (gc0, gcn0) = gc()
    val jit0 = jit.getTotalCompilationTime
    var tables = graftmemTables()
    var tmp = tmpBytes()

    tr.foreach(_.startPass(o.getOrElse("workload", "pass")))
    val passStart = Trace.now()
    val recs = names.map { name =>
      val qspan = tr.map(_.startQuery(name))
      sc.setLocalProperty(Trace.QueryProp, name)
      val t0 = Trace.now()
      val bspan = tr.map(t => t.open(qspan.get, "build", "build", name, t0))
      var err: Option[String] = None
      val df = try Some(queries(name)(spark, sf)) catch { case e: Throwable => err = Some(message(e)); None }
      val t1 = Trace.now()
      tr.foreach(_.close(bspan.get, t1))
      val dspan = tr.map(t => t.open(qspan.get, "drain", "drain", name, t1))
      val out = df.flatMap { d =>
        try Some(Digest.drain(d)) catch { case e: Throwable => err = Some(message(e)); None }
      }
      val t2 = Trace.now()
      tr.foreach(_.close(dspan.get, t2))
      sc.setLocalProperty(Trace.QueryProp, null)
      tr.foreach(_.endQuery(qspan.get))
      // Leak checks, outside the timed region: leftover streams are stopped
      // so they cannot take cores from later queries.
      val leaked = spark.streams.active.toSeq
      leaked.foreach(q => try q.stop() catch { case _: Throwable => () })
      val tables1 = graftmemTables()
      val tmp1 = tmpBytes()
      val exp = expected.get(name)
      val mismatch = (out, exp) match {
        case (Some((r, d)), Some((er, ed))) if r != er || d != ed =>
          Some(s"rows=$r digest=$d expected rows=$er digest=$ed")
        case _ => None
      }
      if (leaked.nonEmpty && err.isEmpty) err = Some(s"leaked ${leaked.size} active stream(s)")
      val failed = err.isDefined || mismatch.isDefined
      err.foreach(e => System.err.println(s"[perfbench] $name FAILED: $e"))
      mismatch.foreach(m => System.err.println(s"[perfbench] $name MISMATCH: $m"))
      val rec = Map(
        "name" -> name, "build_s" -> secs(t0, t1), "drain_s" -> secs(t1, t2),
        "latency_s" -> secs(t0, t2), "rows" -> out.map(_._1), "digest" -> out.map(_._2),
        "checked" -> exp.isDefined, "failed" -> failed, "error" -> err, "mismatch" -> mismatch,
        "leaked_streams" -> leaked.size, "graftmem_tables_delta" -> (tables1 - tables),
        "tmpdir_bytes_delta" -> (tmp1 - tmp))
      tables = tables1
      tmp = tmp1
      rec
    }
    val passEnd = Trace.now()
    tr.foreach(_.endPass())
    val (gc1, gcn1) = gc()
    val jit1 = jit.getTotalCompilationTime

    val lat = recs.map(r => r("latency_s").asInstanceOf[Double])
    val failed = recs.map(_("failed").asInstanceOf[Boolean])
    val wall = lat.sum
    // A failed query ranks slower than every success: it is given the
    // pass's whole wall time.
    val ranked = lat.zip(failed).map { case (l, f) => if (f) wall else l }.sorted
    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> wall,
      "query_p50_s" -> percentile(ranked, 0.5),
      "query_p90_s" -> percentile(ranked, 0.9),
      "ok_ratio" -> (1.0 - failed.count(identity).toDouble / recs.size))

    val layers: Map[String, Any] = tr.map { t =>
      org.apache.spark.perfbench.Bus.drain(sc)
      t.uninstall()
      layerMetrics(t, recs, wall, secs(passStart, passEnd), cpus.toInt,
        setup, gc1 - gc0, gcn1 - gcn0, (jit1 - jit0) / 1000.0, tables, tmp)
    }.getOrElse(Map.empty)

    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.serializer") ||
        k == "spark.master" || k.startsWith("spark.ui") }
    val result = Map(
      "workload" -> o.getOrElse("workload", ""), "sf" -> sf, "cpus" -> cpus.toInt,
      "spark_version" -> spark.version, "confs" -> confs,
      "default_locale" -> java.util.Locale.getDefault.toLanguageTag,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala,
      "attempted" -> recs.size, "failed" -> failed.count(identity),
      "samples" -> ranked.size, "peak_rss_mb" -> vmHwmMb(),
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "setup" -> setup, "queries" -> recs,
      "pass_elapsed_s" -> secs(passStart, passEnd),
      "spans" -> tr.map(_.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "query" -> s.query,
        "start" -> s.start, "end" -> s.end))).getOrElse(Nil))
    Files.writeString(Paths.get(o("out")), Json(result))
    spark.stop()
  }

  def layerMetrics(t: Trace, recs: Seq[Map[String, Any]], wall: Double, elapsed: Double,
      cores: Int, setup: Map[String, Any], gcS: Double, gcN: Double, jitS: Double,
      tables: Int, tmp: Long): Map[String, Any] = {
    def tot(k: String): Double = t.counters.values.map(_.getOrElse(k, 0.0)).sum
    def mx(k: String): Double = t.counters.values.map(_.getOrElse(k, 0.0)).maxOption.getOrElse(0.0)
    def pct(k: String, p: Double): Double = {
      val s = t.samples.values.flatMap(_.getOrElse(k, Nil)).toIndexedSeq.sorted
      if (s.isEmpty) 0.0 else percentile(s, p)
    }
    def ratio(a: Double, b: Double): Double = if (b == 0) 1.0 else a / b
    val d = (k: String) => recs.map(_(k).asInstanceOf[Double]).sum
    val outRows = recs.flatMap(_("rows").asInstanceOf[Option[Long]]).sum.toDouble
    val cmds = tot("sources.graftmem.commands")
    val summed = Seq("spark.exec.jobs", "spark.exec.stages", "spark.exec.tasks",
      "spark.exec.task_s", "spark.exec.cpu_s", "spark.exec.sched_delay_s",
      "operators.mr.rdd_jobs", "operators.mr.rdd_task_s",
      "spark.catalyst.analysis_s", "spark.catalyst.optimization_s",
      "spark.catalyst.planning_s", "spark.catalyst.sql_executions",
      "spark.shuffle.write_bytes", "spark.shuffle.read_bytes", "spark.shuffle.records",
      "spark.shuffle.fetch_wait_s", "spark.shuffle.spill_disk_bytes",
      "spark.shuffle.spill_mem_bytes", "sources.scan.bytes_read", "sources.scan.rows_read",
      "sources.graftmem.commands", "sources.graftmem.command_s",
      "sources.graftmem.rows_written", "sources.graftmem.failed_commands",
      "streaming.queries", "streaming.batches", "streaming.start_to_first_batch_s",
      "streaming.trigger_s", "streaming.add_batch_s", "streaming.latest_offset_s",
      "streaming.query_planning_s", "streaming.wal_commit_s", "streaming.commit_offsets_s",
      "streaming.state_commit_s", "streaming.state_rows", "streaming.state_mem_bytes",
      "streaming.input_rows", "streaming.stop_s").map(k => k -> tot(k)).toMap
    summed ++ Map(
      "operators.build_s" -> d("build_s"),
      "operators.action_s" -> d("drain_s"),
      "spark.exec.busy_ratio" -> tot("spark.exec.task_s") / (wall * cores),
      "spark.exec.driver_s" -> t.jobFreeTime(),
      "spark.exec.task_ok_ratio" -> ratio(tot("spark.exec.tasks_ok"), tot("spark.exec.tasks")),
      "spark.exec.peak_exec_mem_mb" -> mx("spark.exec.peak_exec_mem_mb"),
      "sources.scan.rows_per_output_row" -> tot("sources.scan.rows_read") / math.max(1.0, outRows),
      "sources.graftmem.command_p50_ms" -> pct("sources.graftmem.command_ms", 0.5),
      "sources.graftmem.command_p90_ms" -> pct("sources.graftmem.command_ms", 0.9),
      "sources.graftmem.commit_ok_ratio" ->
        ratio(cmds - tot("sources.graftmem.failed_commands"), cmds),
      "sources.graftmem.tables_live" -> tables.toDouble,
      "streaming.data_batch_ratio" -> ratio(tot("streaming.data_batches"), tot("streaming.batches")),
      "streaming.batch_p50_ms" -> pct("streaming.batch_ms", 0.5),
      "streaming.batch_p90_ms" -> pct("streaming.batch_ms", 0.9),
      "jvm.gc_s" -> gcS, "jvm.gc_count" -> gcN, "jvm.jit_s" -> jitS,
      "jvm.peak_rss_mb" -> vmHwmMb(),
      "jvm.heap_after_gc_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0,
      "setup.session_s" -> setup("session_s"),
      "setup.warm_s" -> setup("warm_s"),
      "util.tmpdir_bytes" -> tmp.toDouble,
      "trace.unattributed" -> (t.unattributedJobs + t.unattributedExecs).toDouble,
      "trace.pass_elapsed_s" -> elapsed,
      "trace.per_query" -> t.counters.map { case (k, v) => k -> v.toMap }.toMap)
  }
}
