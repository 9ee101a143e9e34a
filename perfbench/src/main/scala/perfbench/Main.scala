package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: one workload, one client, a closed loop.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *      --cores C [--spans FILE]
  * Main --digests --data DIR --work DIR --cores C   (prints every query's digest)
  * }}}
  * Only the result lines go to stdout; Spark logs to stderr. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: Path, cores: Int, spans: Option[Path], digests: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val digests = argv.contains("--digests")
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def loopArg(k: String) = if (digests) kv.getOrElse(k, "0") else need(k)
    Args(kv.getOrElse("workload", ""), loopArg("seed").toLong, loopArg("seconds").toDouble,
      loopArg("trace") == "1", need("data"), Paths.get(need("work")).toAbsolutePath,
      need("cores").toInt, kv.get("spans").map(Paths.get(_)), digests)
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("local").toString)
      .config("spark.sql.catalog.graft", "graft.streaming.SnapshotCatalog")
    (if (a.trace) CountingFileSystem.sessionConf else Map.empty[String, String])
      .foldLeft(b) { case (s, (k, v)) => s.config(k, v) }.getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(a)
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try { if (a.digests) digests(spark, a) else run(spark, a); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 2 }
    spark.stop()
    sys.exit(code)
  }

  /** Digest of every read-only query the two query workloads draw from. */
  def digests(spark: SparkSession, a: Args): Unit = {
    import graft.queries._
    val all = Relational.queries ++ Relational2.queries ++ Relational3.queries ++ Events.queries ++
      Skew.queries ++ Quality.queries ++ Dedup.queries ++ TextAnalysis.queries ++
      Similarity.queries ++ MultimodalQ.queries ++ Pipeline.queries ++ TrainingOps.queries ++
      Retrieval.queries
    all.sortBy(_.name).foreach { q =>
      val d = Digest.of(q.build(spark, a.data))
      spark.catalog.clearCache()
      println(s"""{"query":${Json.str(q.name)},"digest":"$d","oracle_sql":${q.oracle.isDefined}}""")
    }
  }

  final case class OpRecord(name: String, family: String, write: Boolean, ms: Double,
      ok: Boolean, layers: OpLayers, fs: Array[Long], gcMs: Long, driverOnlyMs: Long)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(spark: SparkSession, a: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sc = spark.sparkContext
    val tracer = new Tracer(a.trace)
    val layers = new SparkLayers
    if (a.trace) {
      sc.addSparkListener(layers)
      spark.listenerManager.register(layers)
    }
    val ctx = new Ctx(spark, a.data, a.work, new scala.util.Random(a.seed), tracer)
    val w = Workload(a.workload, ctx)

    // set-up: staging, the one-time preparation and an untimed warm pass
    val stageT = System.nanoTime()
    w.stage(a.work.resolve("stage"))
    val stageS = (System.nanoTime() - stageT) / 1e9
    val warmT = System.nanoTime()
    w.prepare()
    (0 until w.passSize).foreach { _ =>
      val op = w.next()
      try op.run() catch { case NonFatal(_) => () }
      spark.catalog.clearCache()
    }
    val warmS = (System.nanoTime() - warmT) / 1e9
    val setupS = sessionS + stageS + warmS
    System.err.println(f"perfbench: set-up session=$sessionS%.2fs stage=$stageS%.2fs warm=$warmS%.2fs")

    val records = ArrayBuffer.empty[OpRecord]
    tracer.clear()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var excluded = 0L // traced runs: listener draining and bookkeeping between ops
    while ((elapsed - excluded / 1e9) < a.seconds || records.size % w.passSize != 0) {
      val op = w.next()
      val id = records.size
      layers.current = id
      sc.setJobGroup(SparkLayers.GroupPrefix + id, op.name, interruptOnCancel = false)
      val fs0 = if (a.trace) CountingFileSystem.snapshot() else Array.empty[Long]
      val gc0 = gcMs
      val startMs = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val (ok, root) = tracer.root(id, op.name) {
        try op.run()
        catch { case NonFatal(e) =>
          System.err.println(s"perfbench: op ${op.name} threw: $e"); false
        }
      }
      val ms = (System.nanoTime() - s0) / 1e6
      val endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      val b0 = System.nanoTime()
      val rec = if (!a.trace) OpRecord(op.name, op.family, op.write, ms, ok, null, null, 0L, 0L)
      else {
        org.apache.spark.PerfbenchBus.drain(sc)
        val fs = CountingFileSystem.snapshot().zip(fs0).map { case (x, y) => x - y }
        val l = layers.get(id)
        val gc = gcMs - gc0
        val drv = l.driverOnlyMs(startMs, endMs)
        root.foreach { s =>
          CountingFileSystem.Names.zip(fs).foreach { case (n, c) => s.counts("fs." + n) = c.toDouble }
          Seq("jobs" -> l.jobs, "stages" -> l.stages, "tasks" -> l.tasks,
            "task_run_ms" -> l.taskRunMs, "plan_ms" -> l.planMs, "gc_ms" -> gc,
            "driver_only_ms" -> drv, "scan_files" -> l.scanFiles)
            .foreach { case (n, v) => s.counts("spark." + n) = v.toString.toDouble }
        }
        w match {
          case lake: LakeChurn if op.name.startsWith("lake.read_") => lake.noteRead(l.scanFiles)
          case _ =>
        }
        OpRecord(op.name, op.family, op.write, ms, ok, l, fs, gc, drv)
      }
      spark.catalog.clearCache()
      if (a.trace) excluded += System.nanoTime() - b0
      records += rec
      if (records.size % w.passSize == 0)
        System.err.println(f"perfbench: pass ${records.size / w.passSize} ends at ${elapsed - excluded / 1e9}%.2fs")
      if (!ok) System.err.println(s"perfbench: op ${op.name} failed its output check")
    }
    val wallS = elapsed - excluded / 1e9
    System.err.println(f"perfbench: timed ${records.size} ops in $wallS%.2fs")

    val finish = w.finish()
    val stored = w.storedBytesPerRow()
    spark.catalog.clearCache()
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) } // lets the ContextCleaner drop what the GC freed
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val failed = records.count(!_.ok)
    val m = new Metrics(records.toSeq, wallS)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", m.opsPerS, "1/s"),
        ("op_ms.p50", m.pct(m.all, 50), "ms"),
        ("read_ms.p50", m.pct(m.reads, 50), "ms"),
        ("heap_mb", heapMb, "MB"))
      else m.perLayer(tracer, finish, stored)
    a.spans.filter(_ => a.trace).foreach(tracer.writeJsonl)
    val body = metrics.map { case (n, v, u) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":${records.size},"failed":$failed,"metrics":{$body}}""")
  }
}

/** Figures over the timed ops. */
final class Metrics(records: Seq[Main.OpRecord], wallS: Double) {
  val all: Seq[Double] = records.map(_.ms)
  val reads: Seq[Double] = records.filterNot(_.write).map(_.ms)
  val writes: Seq[Double] = records.filter(_.write).map(_.ms)
  def opsPerS: Double = records.size / wallS

  /** Harrell-Davis estimate of percentile p: a Beta-weighted mean of every
    * order statistic. A run times a few dozen ops of a fixed mix of kinds,
    * so a percentile read off one or two order statistics jumps between the
    * kinds' latency clusters from run to run. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      val (a, b) = (p / 100 * (n + 1), (1 - p / 100) * (n + 1))
      def cdf(x: Double) = Beta.regularizedBeta(x, a, b)
      s.indices.map(i => s(i) * (cdf((i + 1.0) / n) - cdf(i.toDouble / n))).sum
    }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Every per-layer metric, in the order `BENCHMARK.json` lists them. */
  def perLayer(tracer: Tracer, finish: Map[String, Double], stored: Double): Seq[(String, Double, String)] = {
    val n = records.size.toDouble
    def perOp(f: OpLayers => Double) = records.map(r => f(r.layers)).sum / n
    val spark = Seq(
      ("spark.plan_ms", perOp(_.planMs), "ms"),
      ("spark.jobs", perOp(_.jobs.toDouble), "count"),
      ("spark.stages", perOp(_.stages.toDouble), "count"),
      ("spark.tasks", perOp(_.tasks.toDouble), "count"),
      ("spark.task_run_ms", perOp(_.taskRunMs.toDouble), "ms"),
      ("spark.task_cpu_ms", perOp(_.taskCpuNs / 1e6), "ms"),
      ("spark.task_wait_ms", perOp(_.taskWaitMs.toDouble), "ms"),
      ("spark.shuffle_read_bytes", perOp(_.shuffleReadBytes.toDouble), "bytes"),
      ("spark.shuffle_write_bytes", perOp(_.shuffleWriteBytes.toDouble), "bytes"),
      ("spark.exchanges", perOp(_.exchanges.toDouble), "count"),
      ("spark.driver_only_ms", records.map(_.driverOnlyMs.toDouble).sum / n, "ms"),
      ("spark.scan_files", perOp(_.scanFiles.toDouble), "count"),
      ("spark.scan_bytes", perOp(_.scanBytes.toDouble), "bytes"),
      ("jvm.gc_ms", records.map(_.gcMs.toDouble).sum / n, "ms"))
    val bySpan = tracer.spans.filterNot(_.name.startsWith("op.")).groupBy(_.name)
      .map { case (k, ss) => k -> mean(ss.map(_.durNs / 1e6)) }
    def span(name: String) = bySpan.getOrElse(name, 0.0)
    val queries = Seq(("queries.build_ms", span("queries.build"), "ms"),
      ("queries.exec_ms", span("queries.exec"), "ms")) ++
      QueryLoop.families.map(f => (s"family_ms.$f", mean(records.filter(_.family == f).map(_.ms)), "ms")) ++
      QueryLoop.kernels.map(q => (s"query_ms.$q", mean(records.filter(_.name == q).map(_.ms)), "ms"))
    val lake = Seq("snapshots.commit", "snapshots.merge", "snapshots.delete_where",
      "snapshots.compact", "snapshots.read_where_call", "snapshots.read_exec",
      "snapshots.count_where", "snapshots.row_count", "catalog.sql_read")
      .map(s => (s + "_ms", span(s), "ms")) ++
      Seq(("snapshots.files_read_ratio", "ratio"), ("snapshots.versions", "count"),
        ("snapshots.live_files", "count")).map { case (k, u) => (k, finish.getOrElse(k, 0.0), u) }
    val (w, r) = records.partition(_.write)
    val fs = for {
      (kind, recs) <- Seq("write" -> w, "read" -> r)
      (op, i) <- CountingFileSystem.Names.zipWithIndex
    } yield (s"fs.${op}_per_$kind", if (recs.isEmpty) 0.0 else recs.map(_.fs(i).toDouble).sum / recs.size, "count")
    val s3 = ObjectIo.Formats.map(f => (s"s3like.put_ms.$f", span(s"s3like.put.$f"), "ms")) ++
      ObjectIo.Formats.map(f => (s"s3like.get_ms.$f", span(s"s3like.get.$f"), "ms")) ++
      Seq(("s3like.get_from_keys_ms", span("s3like.get_from_keys"), "ms"),
        ("s3like.list_keys_ms", span("s3like.list_keys"), "ms")) ++
      ObjectIo.Formats.map(f => (s"s3like.bytes_per_row.$f", finish.getOrElse(s"s3like.bytes_per_row.$f", 0.0), "bytes"))
    val wh = Seq("upload", "upsert", "query").map(v => (s"warehouse.${v}_ms", span(s"warehouse.$v"), "ms"))
    // span self times, and the share child spans cover, against each op's
    // wall time as timed outside the tracer
    val self = tracer.selfNs
    val wallNs = records.map(_.ms * 1e6).sum
    val selfSum = tracer.spans.map(s => self(s.id).toDouble).sum
    val rootSelf = tracer.spans.filter(_.name.startsWith("op.")).map(s => self(s.id).toDouble).sum
    val run = Seq(
      ("op_ms.p90", pct(all, 90), "ms"),
      ("read_ms.p90", pct(reads, 90), "ms"),
      ("write_ms.p50", pct(writes, 50), "ms"),
      ("write_ms.p90", pct(writes, 90), "ms"),
      ("stored_bytes_per_row", stored, "bytes"),
      ("fail_frac", records.count(!_.ok) / n, "ratio"),
      ("trace.ops_per_s", opsPerS, "1/s"),
      ("trace.op_ms.p50", pct(all, 50), "ms"),
      ("trace.self_sum_ratio", if (wallNs == 0) 0.0 else selfSum / wallNs, "ratio"),
      ("trace.child_cover", if (wallNs == 0) 0.0 else 1 - rootSelf / wallNs, "ratio"))
    spark ++ queries ++ lake ++ fs ++ s3 ++ wh ++ run
  }
}
