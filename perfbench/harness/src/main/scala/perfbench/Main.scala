package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

import graft.{Etl, SparkEntry, Tables}
import graft.sources.{CatalogXlsx, XlsxLite}

/** The benchmark JVM. One closed loop with one client: operations are
  * issued serially, each after the previous one returned.
  *
  *   perfbench.Main --workload <query|etl> --data <dir> --out <dir>
  *     --seconds <s> --seed <n> --trace <0|1> --setups <k> --cores <c>
  *     --local-dir <dir> --conf k=v,k=v,...
  *     [--queries name@dataDir,...] [--warm name,...]
  *     [--catalogs a,b,...] [--warm-catalog id] [--lead-in n]
  *
  * Phases: `--setups` times, start a session and run the warm set
  * (timed as set-up; all but the last session are stopped again); for
  * query workloads, one untimed check pass writes every query's result as
  * parquet for the oracle comparison; `--lead-in` untimed operations;
  * then passes in a seeded order: one whole pass at least, then
  * operations until `--seconds` have been measured. With `--trace 1` every
  * operation runs twice, once with the job listener attached and once
  * without, in alternating order, so the listener's overhead is measured.
  *
  * Writes `harness.json` (set-up, host probes, peak RSS) and `ops.jsonl`
  * (one record per operation) under `--out`; the caller turns them into
  * metrics and checks the outputs.
  */
object Main {

  final case class Conf(workload: String, data: String, out: String,
      seconds: Double, seed: Long, trace: Boolean, setups: Int, cores: Int,
      queries: Seq[(String, String)], warm: Seq[String], catalogs: Seq[String],
      warmCatalog: String, leadIn: Int, localDir: String,
      conf: Seq[(String, String)]) {
    def queryDir(name: String): String = queries.toMap.getOrElse(name, data)
  }

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def list(k: String) =
      m.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    Conf(m("workload"), m("data"), m("out"), m("seconds").toDouble,
      m("seed").toLong, m("trace") == "1", m.getOrElse("setups", "3").toInt,
      m.getOrElse("cores", "4").toInt,
      list("queries").map { q => val i = q.indexOf('@'); (q.take(i), q.drop(i + 1)) },
      list("warm"),
      list("catalogs"), m.getOrElse("warm-catalog", ""),
      m.getOrElse("lead-in", "0").toInt, m("local-dir"),
      list("conf").map { kv =>
        val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) })
  }

  /** The session: `local[cores]` plus the `--conf` pairs (graft.Bench's
    * builder settings, kept in workloads.json), with Spark's local and
    * warehouse directories under the benchmark's own work directory. */
  def session(c: Conf): SparkSession = {
    val spark = c.conf.foldLeft(SparkSession.builder()
        .master(s"local[${c.cores}]")) { case (b, (k, v)) => b.config(k, v) }
      .config("spark.local.dir", c.localDir)
      .config("spark.sql.warehouse.dir", s"${c.localDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  // ------------------------------------------------------------ records

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Wall milliseconds in [from, to) covered by no job interval. */
  def gapMs(from: Long, to: Long, jobs: Seq[JobRec]): Long = {
    var covered = 0L
    var cursor = from
    jobs.map(j => (j.start max from, j.end min to)).filter(i => i._2 > i._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > cursor) { covered += e - (s max cursor); cursor = e }
      }
    (to - from) - covered
  }

  /** Per-operation layer counters from the operation's traced jobs. */
  def layerRecord(jobs: Seq[JobRec], phases: Map[String, (Long, Long)])
      : Map[String, Any] = {
    def sel(phase: String, module: Option[String] = None) =
      jobs.filter(j => j.phase == phase && module.forall(_ == j.module))
    def wall(js: Seq[JobRec]) = js.map(j => j.end - j.start).sum / 1e3
    val construct = sel("construct")
    val tables = sel("construct", Some("Tables"))
    val ops = sel("construct", Some("operators"))
    val exec = sel("exec")
    val op = sel("op")
    def mods(js: Seq[JobRec]) = js.groupBy(_.module).map { case (k, v) =>
      k -> Map("jobs" -> v.size, "job_s" -> wall(v)) }
    Map(
      "jobs_total" -> jobs.size,
      "job_modules" -> jobs.map(_.module),
      "modules" -> mods(jobs),
      "op_modules" -> mods(op),
      "construct_jobs" -> construct.size,
      "tables_jobs" -> tables.size, "tables_job_s" -> wall(tables),
      "operators_jobs" -> ops.size, "operators_job_s" -> wall(ops),
      "exec_jobs" -> exec.size,
      "exec_stages" -> exec.map(_.stages).sum,
      "exec_tasks" -> exec.map(_.tasks).sum,
      "exec_task_s" -> exec.map(_.taskMs).sum / 1e3,
      "exec_gc_s" -> exec.map(_.gcMs).sum / 1e3,
      "exec_shuffle_read_mb" -> exec.map(_.shuffleRead).sum / 1e6,
      "exec_shuffle_write_mb" -> exec.map(_.shuffleWrite).sum / 1e6,
      "exec_spill_mb" -> exec.map(_.spill).sum / 1e6,
      "exec_gap_s" -> phases.get("exec").map { case (a, b) =>
        gapMs(a, b, exec) / 1e3 }.getOrElse(0.0),
      "op_jobs" -> op.size,
      "op_gap_s" -> phases.get("op").map { case (a, b) =>
        gapMs(a, b, op) / 1e3 }.getOrElse(0.0))
  }

  // ---------------------------------------------------------- operations

  /** Runs `body` as one phase of an operation: jobs it starts carry the
    * phase in their local properties. Returns the phase's
    * epoch-millisecond span. */
  def phase[T](spark: SparkSession, name: String)(body: => T)
      : (T, (Long, Long)) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.PhaseKey, name)
    val w0 = System.currentTimeMillis()
    try {
      val r = body
      (r, (w0, System.currentTimeMillis()))
    } finally sc.setLocalProperty(Trace.PhaseKey, null)
  }

  def resetStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** One query operation: build the frame, plan it, then execute it and
    * iterate every row of its result (every column is produced by the
    * final projection). */
  def queryOp(spark: SparkSession, c: Conf, name: String)
      : Map[String, Any] = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    var t1, t2 = t0
    val spans = Map.newBuilder[String, (Long, Long)]
    val err = try {
      val (df, s1) = phase(spark, "construct")(fn(spark, c.queryDir(name)))
      t1 = System.nanoTime()
      val (qe, s2) = phase(spark, "plan") {
        val qe = df.queryExecution
        qe.executedPlan
        qe
      }
      t2 = System.nanoTime()
      val (_, s3) = phase(spark, "exec") {
        SQLExecution.withNewExecutionId(qe, Some(s"perfbench $name"))(
          qe.toRdd.foreach(_ => ()))
      }
      spans ++= Seq("construct" -> s1, "plan" -> s2, "exec" -> s3)
      None
    } catch { case NonFatal(e) => Some(e.toString.take(300)) }
    val t3 = System.nanoTime()
    resetStorage(spark)
    Map("name" -> name, "ok" -> err.isEmpty, "error" -> err,
      "lat_s" -> secs(t0, t3), "construct_s" -> secs(t0, t1),
      "plan_s" -> secs(t1, t2), "exec_s" -> secs(t2, t3),
      "spans" -> spans.result())
  }

  /** One ETL operation: one catalog run of `Etl.runAll`. The report is
    * collected afterwards, untimed, for the status check. */
  def etlOp(spark: SparkSession, c: Conf, catalog: String,
      outDir: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    val (res, span) = phase(spark, "op") {
      try Right(Etl.runAll(spark, Etl.Args(configDir = s"${c.data}/config",
        outputDir = outDir, catalogIdFilter = Some(catalog))))
      catch { case NonFatal(e) => Left(e.toString.take(300)) }
    }
    val t1 = System.nanoTime()
    val report = res.toOption.flatMap(_.get(catalog)).map { r =>
      phase(spark, "check")(r.report.collect())._1.toSeq.map(row => Map(
        "distribution" -> row.getAs[String]("distributionId"),
        "status" -> row.getAs[String]("distribution_status"),
        "message" -> row.getAs[String]("message")))
    }
    resetStorage(spark)
    val err = res.left.toOption.orElse(
      if (report.isEmpty) Some(s"catalog $catalog produced no result") else None)
    Map("name" -> catalog, "ok" -> err.isEmpty, "error" -> err,
      "lat_s" -> secs(t0, t1), "out" -> outDir,
      "report" -> report.getOrElse(Nil), "spans" -> Map("op" -> span))
  }

  // ---------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val out = Paths.get(c.out)
    Files.createDirectories(out)
    val isEtl = c.workload == "etl"
    if (isEtl) writeWorkbooks(c.data)
    // the caller runs the oracle SQL while the first, cold set-up runs
    // (the slowest, never the median) and signals `oracle.done`; waiting
    // for it keeps the oracle off the set-ups that are measured
    val oracleDone = out.resolve("oracle.done")
    if (!isEtl) Files.writeString(out.resolve("oracle_sql.json"),
      json(c.queries.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap))

    // set-up, repeated: session start plus the warm set
    val setups = (1 to c.setups).map { i =>
      if (i == 2 && !isEtl)
        while (!Files.exists(oracleDone)) Thread.sleep(20)
      val t0 = System.nanoTime()
      val spark = session(c)
      if (isEtl) etlOp(spark, c, c.warmCatalog, s"${c.out}/etl/setup$i")
      else c.warm.foreach(q => queryOp(spark, c, q))
      val dt = secs(t0, System.nanoTime())
      if (i < c.setups) spark.stop()
      dt
    }
    val spark = SparkSession.active
    val sc = spark.sparkContext

    // untimed check pass: every query's full result, for the oracle
    val checkT0 = System.nanoTime()
    if (!isEtl) c.queries.foreach { case (q, dir) =>
      try SparkEntry.queries(q)(spark, dir).coalesce(1).write
        .mode("overwrite").parquet(s"${c.out}/check/$q")
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed in check pass: $e") }
      resetStorage(spark)
    }
    val checkS = secs(checkT0, System.nanoTime())

    val trace = new Trace
    val ops = Files.newBufferedWriter(out.resolve("ops.jsonl"))
    val items = if (isEtl) c.catalogs else c.queries.map(_._1)
    var op = 0
    def runOne(pass: Int, name: String, traced: Boolean, pair: Int)
        : Map[String, Any] = {
      op += 1
      if (traced) sc.addSparkListener(trace)
      val rec =
        if (isEtl) etlOp(spark, c, name, s"${c.out}/etl/op$op")
        else queryOp(spark, c, name)
      val layers = if (!traced) Map.empty[String, Any] else {
        BusDrain(sc)
        sc.removeSparkListener(trace)
        val spans = rec("spans").asInstanceOf[Map[String, (Long, Long)]]
        layerRecord(trace.drain(), spans) ++
          (if (isEtl) Map("xlsx_parse_s" -> xlsxParseSecs(spark, c, name))
           else Map.empty)
      }
      val full = rec - "spans" ++ Map("op" -> op, "pass" -> pass,
        "pair" -> pair, "traced" -> traced, "layers" -> layers)
      ops.write(json(full)); ops.newLine()
      full
    }

    def order(pass: Int) =
      new scala.util.Random(c.seed * 1000003L + pass).shuffle(items)
    // lead-in: the first `--lead-in` operations of pass 1, run once more
    // untimed (pass 0) so measured operations do not pay the last of the
    // JIT warm-up (a query's second execution is still ~20% slower than
    // its third)
    order(1).take(c.leadIn).foreach(runOne(0, _, traced = false, pair = 0))

    val t0 = System.nanoTime()
    var pass = 0
    var pairs = 0
    var done = false
    val stat0 = cpuStat()
    val tablesRead = scala.collection.mutable.ArrayBuffer[Double]()
    while (!done) {
      pass += 1
      if (c.trace && !isEtl) tablesRead += tablesReadSecs(spark, c.data)
      val it = order(pass).iterator
      while (!done && it.hasNext) {
        val name = it.next()
        pairs += 1
        if (!c.trace) runOne(pass, name, traced = false, pairs)
        else {
          // alternate which copy runs first, so warm-after-cold favours
          // neither side of the overhead comparison
          val tracedFirst = pairs % 2 == 0
          runOne(pass, name, tracedFirst, pairs)
          runOne(pass, name, !tracedFirst, pairs)
        }
        // one whole pass at least, then operation by operation until the
        // time is used, so every run covers every item
        done = (pass > 1 || !it.hasNext) &&
          secs(t0, System.nanoTime()) >= c.seconds
      }
    }
    val measureS = secs(t0, System.nanoTime())
    val stat1 = cpuStat()
    ops.close()

    val host = hostProbes(spark, c) +
      ("steal_pct" -> {
        val dt = stat1._1 - stat0._1
        if (dt > 0) 100.0 * (stat1._2 - stat0._2) / dt else 0.0 })
    val summary = Map(
      "workload" -> c.workload, "seed" -> c.seed, "cores" -> c.cores,
      "setup_s" -> setups, "check_pass_s" -> checkS,
      "measure_s" -> measureS, "passes" -> pass, "ops" -> op,
      "tables_read_s" -> tablesRead,
      "peak_rss_mb" -> peakRssMb(), "host" -> host)
    Files.writeString(out.resolve("harness.json"), json(summary))
    spark.stop()
  }

  /** `.cells` files from the generator -> `.xlsx` next to them. */
  def writeWorkbooks(dataDir: String): Unit = {
    val root = Paths.get(dataDir)
    Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".cells")).sorted.foreach { p =>
        val cells = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
          .map(_.split("\t", 4)).map(a => (a(0), a(1).toInt, a(2).toInt,
            if (a.length > 3) a(3) else ""))
        val sheets = cells.map(_._1).distinct.map { s =>
          val cs = cells.filter(_._1 == s)
          val grid = Array.fill(cs.map(_._2).max, cs.map(_._3).max)(null: String)
          cs.foreach { case (_, r, col, v) => grid(r - 1)(col - 1) = v }
          s -> grid.toSeq.map(_.toSeq)
        }
        XlsxLite.write(p.toString.stripSuffix(".cells") + ".xlsx", sheets.toSeq)
      }
  }

  /** Direct timing of the ten `Tables` accessors (each infers its
    * table's schema from the parquet footer). */
  def tablesReadSecs(spark: SparkSession, dir: String): Double = {
    val t = Tables(spark, dir)
    val t0 = System.nanoTime()
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
      t.lineitem, t.events, t.documents, t.embeddings)
    secs(t0, System.nanoTime())
  }

  /** Driver-side parse time of one catalog's source workbooks. */
  def xlsxParseSecs(spark: SparkSession, c: Conf, catalog: String): Double = {
    val dir = new File(s"${c.data}/sources")
    val books = Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(s"wb_${catalog}_") &&
        f.getName.endsWith(".xlsx"))
    val t0 = System.nanoTime()
    books.foreach(f => CatalogXlsx.toGrid(spark, f.getPath))
    secs(t0, System.nanoTime())
  }

  // ---------------------------------------------------------- host probes

  /** graft.Bench's host probes, recorded beside the run as context. */
  def hostProbes(spark: SparkSession, c: Conf): Map[String, Any] = {
    def best(run: () => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); run(); secs(t0, System.nanoTime())
    }.min
    val cpu = best(() =>
      spark.range(100000000L).selectExpr("sum(id * 3 + 1)").collect())
    val probeDir = s"${c.out}/probe_region"
    spark.range(5).write.mode("overwrite").parquet(probeDir)
    val scan = best(() => spark.read.parquet(probeDir).count())
    val n = 8 * 1024 * 1024
    val src = Array.tabulate(n)(i => i * 0x9E3779B97F4A7C15L)
    val dst = new Array[Long](n)
    val gbps = (1 to 4).map { _ =>
      val t0 = System.nanoTime()
      System.arraycopy(src, 0, dst, 0, n)
      2.0 * n * 8 / secs(t0, System.nanoTime()) / 1e9
    }.max
    Map("cpu_sec" -> cpu, "scan_sec" -> scan, "mem_gbps" -> gbps)
  }

  def cpuStat(): (Long, Long) =
    try {
      val l = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val p = l.trim.split("\\s+").drop(1).map(_.toLong)
      (p.sum, if (p.length > 7) p(7) else 0L)
    } catch { case NonFatal(_) => (0L, 0L) }

  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }
}
