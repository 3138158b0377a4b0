package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.sql.{Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core.GraftSession
import graft.gold.GoldOps
import graft.io.{Layout, PartitionLedger, SchemaRegistry}
import graft.model.Schemas
import graft.pipeline.{IngestJob, PlatformDay, Ran, SilverIndustryCodeJob, StageResult}
import graft.sources.{KrEtfOldConnector, KrxCodesConnector}

/** One benchmark run: a single closed-loop client in one JVM. The next
  * operation starts only after the last one completes.
  *
  * `Main <plan.json> <result.json>`. The plan (written by `run.py` from
  * the seed) names the operations in order; this program runs them all and
  * writes raw per-operation records, spans and listener events. Metrics are
  * computed from the result file by `run.py`. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Session set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** Epoch milliseconds and cumulative GC milliseconds at the start of the
    * run's first timed operation. */
  private var firstTimed: Option[(Long, Long)] = None
  def markTimed(): Unit =
    if (firstTimed.isEmpty) firstTimed = Some((System.currentTimeMillis(), gcMs()))

  final case class Op(id: Int, kind: String, name: String, traced: Boolean,
                      wall: Double, cpu: Double, fp: String, expectedFp: String,
                      ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Main <plan.json> <result.json>")
    val plan = json.readValue(Files.readString(Paths.get(args(0))), classOf[Map[String, Any]])
    val cores = plan("cores").toString.toIntOption.filter(_ > 0)
      .getOrElse(throw new IllegalArgumentException(s"cores must be a positive integer: ${plan("cores")}"))
    val workload = plan("workload").toString
    val run = workload match {
      case "queries" => new QueryRun(plan)
      case "platform" => new PlatformRun(plan)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    var spark: SparkSession = null
    val setups = (0 until Setups).map { i =>
      if (spark != null) spark.stop()
      // a new session has a new in-memory catalog: drop the tables the last
      // one left behind so a managed table can be created again
      deleteTree(Paths.get(plan("work").toString, "warehouse"))
      val startMs = if (i == 0) jvmStartMs else System.currentTimeMillis()
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      run.warmup(spark)
      val t2 = System.nanoTime()
      Map("total_s" -> (System.currentTimeMillis() - startMs) / 1e3,
        "session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "gc_s" -> (gcMs() - gc0) / 1e3)
    }

    val tracer = new Tracer(false, spark.sparkContext)
    val execListener = new ExecListener(tracer)
    val planListener = new PlanListener(tracer)
    val ops = run.run(spark, tracer, new Tracing(spark, tracer, execListener, planListener))

    val out = Map(
      "workload" -> workload, "seed" -> plan("seed"), "cores" -> cores,
      "setups" -> setups,
      "cold" -> firstTimed.map { case (ms, gc) =>
        Map("cold_s" -> (ms - jvmStartMs) / 1e3, "gc_s" -> gc / 1e3) }.getOrElse(Map.empty),
      "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "name" -> o.name,
        "traced" -> o.traced, "wall_s" -> o.wall, "cpu_s" -> o.cpu, "fp" -> o.fp,
        "expected_fp" -> o.expectedFp, "ok" -> o.ok, "error" -> o.error)),
      "spans" -> tracer.spans.map(s => Seq(s.op, s.id, s.parent, s.name, s.start, s.end)),
      "jobs" -> execListener.jobs.map { case (op, span, id, s, e) => Seq(op, span, id, s, e) },
      "tasks" -> execListener.totals.map { case (op, t) => op.toString -> Map(
        "tasks" -> t.tasks, "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs,
        "shuffle_read_bytes" -> t.shuffleReadBytes, "shuffle_write_bytes" -> t.shuffleWriteBytes,
        "spill_bytes" -> t.spillBytes, "peak_exec_mem" -> t.peakExecMem) },
      "queries" -> planListener.events.map(e => Map("op" -> e.op, "func" -> e.func,
        "duration_ns" -> e.durationNs, "exchanges" -> e.exchanges, "write" -> e.write,
        "phases" -> e.phases.map { case (k, (s, t)) => k -> Seq(s, t) })),
      "extra" -> run.extra)
    spark.stop()
    Files.writeString(Paths.get(args(1)), json.writeValueAsString(out))
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .linesIterator.take(1).mkString.take(300)

  /** Observation names must not repeat within a session. */
  val observations = new java.util.concurrent.atomic.AtomicInteger()

  def seq(v: Any): Seq[Any] = v.asInstanceOf[Seq[Any]]
  def obj(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
}

/** Turns tracing on and off between operations. Listeners are registered
  * only while an operation is traced, and the bus is drained on every
  * switch and after every traced operation, outside the timed interval. */
final class Tracing(spark: SparkSession, tracer: Tracer, exec: ExecListener,
                    plan: PlanListener) {
  private val sc = spark.sparkContext

  def around[T](op: Int, traced: Boolean)(body: => T): T = {
    tracer.op = op
    if (traced) {
      sc.addSparkListener(exec)
      spark.listenerManager.register(plan)
      tracer.enabled = true
    }
    try body
    finally if (traced) {
      ListenerBus.drain(sc)
      tracer.enabled = false
      sc.removeSparkListener(exec)
      spark.listenerManager.unregister(plan)
      sc.setLocalProperty(Tracer.SpanKey, null)
      sc.setLocalProperty(Tracer.OpKey, null)
    }
  }
}

trait BenchRun {
  def warmup(spark: SparkSession): Unit
  def run(spark: SparkSession, tracer: Tracer, tracing: Tracing): Seq[Main.Op]
  def extra: Map[String, Any] = Map.empty
}

/** `queries`: registry queries, each built, then written to
  * the `noop` sink (which materialises every column) with its fingerprint
  * observed on the way. */
final class QueryRun(plan: Map[String, Any]) extends BenchRun {
  import Main._
  private val data = plan("data").toString
  private val expected = obj(plan("expected")).map { case (k, v) => k -> v.toString }
  /** Recording may name a `graft.Verify` output directory (one parquet
    * directory per query, checked by scripts/check.py against the DuckDB
    * oracle): each query's expected fingerprint is then that output's. */
  private val verified = plan.get("verified").map(_.toString)
  /** Recording runs every deployed (non-gate) registry query twice. */
  private val ops =
    if (plan.get("record").contains(true)) {
      val names = SparkEntry.queries.keys.toSeq.filterNot(SparkEntry.gateNames).sorted
      names.map(n => Map[String, Any]("name" -> n, "pass" -> 0, "traced" -> false)) ++
        names.map(n => Map[String, Any]("name" -> n, "pass" -> 1, "traced" -> false))
    } else seq(plan("ops")).map(obj)

  private def query(spark: SparkSession, tracer: Tracer, id: Int, name: String,
                    kind: String, traced: Boolean): Op = {
    var wall = 0.0
    var cpu = 0L
    var fp = ""
    var error = ""
    def timed[T](layer: String)(body: => T): T = {
      val c0 = cpuNs()
      try tracer.span(layer)(body)
      finally { wall += tracer.lastSeconds; cpu += cpuNs() - c0 }
    }
    try {
      val df = timed("build")(SparkEntry.queries(name)(spark, data))
      val obs = Observation(s"fp${Main.observations.incrementAndGet()}")
      val observed = Fingerprint.observe(df, obs)
      timed("exec")(observed.write.format("noop").mode("overwrite").save())
      fp = Fingerprint.read(obs)
    } catch { case e: Throwable => error = message(e) }
    // as graft.Bench does: drop blocks pinned by lineage cuts so one
    // query's storage cannot slow the next
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val expectedFp = verified match {
      case Some(dir) => verifiedFp(spark, s"$dir/$name")
      case None => expected.getOrElse(name, "")
    }
    Op(id, kind, name, traced, wall, cpu / 1e9, fp, expectedFp, error.isEmpty, error)
  }

  private def verifiedFp(spark: SparkSession, path: String): String =
    if (!Files.isDirectory(Paths.get(path))) "missing"
    else {
      val obs = Observation(s"fp${Main.observations.incrementAndGet()}")
      Fingerprint.observe(spark.read.parquet(path), obs).write.format("noop").mode("overwrite").save()
      Fingerprint.read(obs)
    }

  def warmup(spark: SparkSession): Unit = {
    val quiet = new Tracer(false, spark.sparkContext)
    seq(plan("warmup")).foreach(n => query(spark, quiet, -1, n.toString, "warm", traced = false))
  }

  /** Pass 0 warms each query's code paths and is checked but not timed. */
  def run(spark: SparkSession, tracer: Tracer, tracing: Tracing): Seq[Op] =
    ops.zipWithIndex.map { case (o, id) =>
      val traced = o("traced") == true
      val kind = if (o("pass") == 0) "warm" else "query"
      if (kind == "query") markTimed()
      tracing.around(id, traced)(query(spark, tracer, id, o("name").toString, kind, traced))
    }
}

/** `platform`: the medallion write path over generated bronze payloads.
  * Each operation is one `IngestJob.runFor(day)` of one source; a cycle
  * ingests every (source, day) in the seeded order, then runs the silver
  * conform and the gold refresh, then reruns the whole range (ledger skip,
  * silver, gold). Each cycle starts on a fresh lake. An untimed warm cycle
  * over the first days comes first, so that the timed cycles do not pay
  * for JIT compilation. */
final class PlatformRun(plan: Map[String, Any]) extends BenchRun {
  import Main._
  private val work = plan("work").toString
  private val payloads = plan("payloads").toString
  private val ops = seq(plan("ops")).map(obj)
  private val warmCycle = seq(plan("warm_cycle")).map(obj)
  private val rows = obj(plan("rows")).map { case (k, v) => k -> v.toString.toLong }
  private var cycles = 0
  private val lake = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def ingestJobs(spark: SparkSession, tracer: Tracer, layout: Layout,
                         ledger: PartitionLedger): Map[String, IngestJob] = Map(
    "kr_etf_old" -> new KrEtfOldConnector(s"$payloads/kr_etf_old"),
    "krx_codes" -> new KrxCodesConnector(s"$payloads/krx_codes")).map { case (n, c) =>
    n -> new IngestJob(spark, layout, new TimedConnector(c, tracer), ledger)
  }

  /** The gold refresh of the volume leg in `graft.PlatformE2E`. */
  private def gold(spark: SparkSession, layout: Layout): Unit = {
    val bronze = spark.read.json(layout.source("bronze", "kr_etf_old"))
      .withColumn("close", regexp_replace(col("TDD_CLSPRC"), ",", "").cast("double"))
      .withColumn("ymd", col("ymd").cast("string"))
    GoldOps.withRolling(GoldOps.withReturns(bronze, "ISU_SRT_CD", "ymd", "close"),
      "ISU_SRT_CD", "ymd", "close", n = 5)
      .write.mode(SaveMode.Overwrite).parquet(PlatformDay.goldPath(layout))
  }

  /** A warm cycle is checked like the others, but its operations are not
    * timed (kind "warm") and its lake is not measured. */
  private def cycle(spark: SparkSession, tracer: Tracer, tracing: Tracing,
                    cycleOps: Seq[Map[String, Any]], firstId: Int, tag: String,
                    warm: Boolean): Seq[Op] = {
    val days = cycleOps.map(_("day").toString).distinct.sorted
    val lastDay = days.last
    val root = s"$work/lake/$tag"
    val layout = Layout(root)
    val ledger = new PartitionLedger(s"$root/ledger.tsv")
    val jobs = ingestJobs(spark, tracer, layout, ledger)
    val silver = new SilverIndustryCodeJob(spark, layout, new SchemaRegistry(s"$root/registry"))
    val out = mutable.ArrayBuffer.empty[Op]
    var id = firstId

    def timed(kind: String, name: String, traced: Boolean)(body: => Boolean): Unit = {
      var ok = false
      var error = ""
      var cpu = 0L
      if (!warm) markTimed()
      tracing.around(id, traced) {
        val c0 = cpuNs()
        try ok = tracer.span(kind)(body)
        catch { case e: Throwable => error = message(e) }
        cpu = cpuNs() - c0
      }
      out += Op(id, kind, name, traced, tracer.lastSeconds, cpu / 1e9, "", "",
        ok && error.isEmpty, error)
      id += 1
    }
    def ran(r: StageResult): Boolean = r match {
      case Ran => true
      case other => throw new IllegalStateException(s"stage did not run: $other")
    }
    def goldHash(): (Long, Long) =
      PlatformDay.contentHash(spark.read.parquet(PlatformDay.goldPath(layout)))

    for (o <- cycleOps) {
      val src = o("source").toString
      timed("ingest", s"$src/${o("day")}", o("traced") == true)(
        ran(jobs(src).runFor(o("day").toString)))
    }
    val traced = cycleOps.exists(_("traced") == true)
    timed("pipeline.silver", "silver", traced)(ran(silver.runFor(lastDay)))
    timed("gold.refresh", "gold", traced) { gold(spark, layout); true }
    val first = goldHash()
    timed("pipeline.rerun", "rerun", traced) {
      val skipped = tracer.span("rerun.ingest")(jobs.values.forall(_.runRange(days).isEmpty))
      ran(silver.runFor(lastDay))
      gold(spark, layout)
      skipped
    }
    verify(spark, layout, out, days.size, first == goldHash())
    if (warm) out.toSeq.map(_.copy(kind = "warm"))
    else {
      val files = Files.walk(Paths.get(layout.root)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && isData(p)).toSeq
      lake += Map("files" -> files.size, "bytes" -> files.map(Files.size).sum)
      out.toSeq
    }
  }

  /** Outside the timed interval: every ingested partition must equal a
    * direct read of its payload, the silver dimension must hold the last
    * day's codes, and the gold table must hold one row per bronze row. */
  private def verify(spark: SparkSession, layout: Layout, out: mutable.ArrayBuffer[Op],
                     nDays: Int, idempotent: Boolean): Unit = {
    def perDay(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Map[String, String] =
      df.groupBy(col("ymd").cast("string").as("ymd"))
        .agg(count(lit(1)), bit_xor(xxhash64(cols.map(col): _*)))
        .collect().map(r => r.getString(0) -> s"${r.getLong(1)}:${r.getLong(2)}").toMap
    val etfCols = Schemas.krEtfOldItem.fieldNames.toSeq
    val codeCols = Schemas.krxCodes.fieldNames.toSeq
    val got = Map(
      "kr_etf_old" -> perDay(spark.read.schema(Schemas.krEtfOldItem)
        .json(layout.source("bronze", "kr_etf_old")), etfCols),
      "krx_codes" -> perDay(spark.read.schema(Schemas.krxCodes)
        .json(layout.source("bronze", "krx_codes")), codeCols))
    val want = Map(
      "kr_etf_old" -> perDay(spark.read.schema(Schemas.krEtfOldPayload)
        .option("multiLine", "true").json(s"$payloads/kr_etf_old").select(explode(col("output")).as("r"), col("ymd"))
        .select("r.*", "ymd"), etfCols),
      "krx_codes" -> perDay(spark.read.schema(Schemas.krxCodes)
        .option("multiLine", "true").json(s"$payloads/krx_codes"), codeCols))
    val etfRows = got("kr_etf_old").values.map(_.takeWhile(_ != ':').toLong).sum
    val silverRows = spark.read.parquet(
      layout.source("silver", "industry_code") + "/dim_industry_code").count()
    val goldRows = spark.read.parquet(PlatformDay.goldPath(layout)).count()
    for (i <- out.indices) {
      val o = out(i)
      val ok = o.kind match {
        case "ingest" =>
          val Array(src, day) = o.name.split("/", 2)
          val fp = got(src).getOrElse(day, "")
          out(i) = o.copy(fp = fp, expectedFp = want(src).getOrElse(day, "-"))
          fp == want(src).getOrElse(day, "-") && fp.startsWith(s"${rows(src)}:")
        case "pipeline.silver" => silverRows == rows("krx_codes")
        case "gold.refresh" => goldRows == etfRows && etfRows == rows("kr_etf_old") * nDays
        case _ => idempotent
      }
      if (!ok) out(i) = out(i).copy(ok = false)
    }
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith("part-") && !n.endsWith(".crc") &&
      Seq("bronze", "silver", "gold").exists(l => p.toString.contains(s"/$l/"))
  }

  /** Ingests the warm-up operations into a lake of their own. */
  def warmup(spark: SparkSession): Unit = {
    cycles += 1
    val root = s"$work/lake/warmup$cycles"
    val jobs = ingestJobs(spark, new Tracer(false, spark.sparkContext), Layout(root),
      new PartitionLedger(s"$root/ledger.tsv"))
    seq(plan("warmup")).map(obj).foreach(o => jobs(o("source").toString).runFor(o("day").toString))
  }

  def run(spark: SparkSession, tracer: Tracer, tracing: Tracing): Seq[Op] = {
    val out = mutable.ArrayBuffer.empty[Op]
    out ++= cycle(spark, tracer, tracing, warmCycle, 0, "warm", warm = true)
    for (n <- 0 until plan("cycles").toString.toInt)
      out ++= cycle(spark, tracer, tracing, ops, out.size, s"run$n", warm = false)
    out.toSeq
  }

  override def extra: Map[String, Any] = Map("lake" -> lake.toSeq,
    "payload_bytes" -> plan("payload_bytes"))
}
