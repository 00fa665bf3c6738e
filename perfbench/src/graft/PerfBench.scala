package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.operators.Citations
import graft.sources.EdgeListReader

/** Benchmark harness: one workload, one JVM, one `BenchKit.session`.
  *
  * Usage:
  *   PerfBench run <workload> <dataDir> <seconds> <trace 0|1> <outDir>
  *   PerfBench setup <workload> <dataDir> <outFile>
  *
  * `run` sets the session up (timed from JVM start), runs every call once
  * sequentially with its results dumped for the oracle checks, runs the
  * workload's untimed warm-up passes, then repeats timed passes for
  * `seconds` (and at least three; four, ABBA-ordered, when tracing). Every
  * execution's result is digested outside the timed region and compared
  * with the first one's. Writes `result.json` (raw timings, digests, dumps)
  * and, when tracing, `spans.json` (the census). `setup` only times one
  * cold set-up and writes its seconds to `outFile`. `run.py` turns both
  * into metrics.
  */
object PerfBench {

  val GeneratedOn = "2001-01-01 00:00:00"
  private val MB = 1024.0 * 1024.0

  sealed trait Outcome
  final case class Frame(df: DataFrame) extends Outcome
  final case class Written(path: Path) extends Outcome

  /** One call into the program. `check` names how its first result is
    * verified: "report" (bytes), "counts", "degree" or "oracle". */
  final case class Call(name: String, check: String, run: (SparkSession, Int) => Outcome)

  /** `background` is the pass list one thread repeats; `clients` threads
    * repeat `foreground` concurrently; `warmups` untimed passes of that
    * shape come before the timed ones. */
  final case class Workload(background: Seq[Call], foreground: Seq[Call],
                            clients: Int, warmups: Int, inputs: SparkSession => Unit)

  def workload(name: String, data: String, out: String): Workload = {
    val report = s"$data/report/edges.txt"
    val mixed = s"$data/mixed/edges.txt"
    val graph = s"$data/graph"
    def entry(q: String) = Call(q, "oracle", (s, _) => Frame(SparkEntry.queries(q)(s, graph)))
    def openGraph(s: SparkSession): Unit = Citations.edges(s, graph).schema
    name match {
      case "report" => Workload(Seq(
        Call("report_app", "report", { (s, client) =>
          val p = Paths.get(s"$out/report_app.$client.txt")
          CitationReportApp.run(s, report, p.toString, GeneratedOn)
          Written(p)
        }),
        Call("counts_salted", "counts",
          (s, _) => Frame(Citations.countsSalted(EdgeListReader.read(s, report)))),
        Call("degree_dist", "degree",
          (s, _) => Frame(Citations.degreeDistribution(EdgeListReader.read(s, report))))),
        Nil, 0, 2, s => EdgeListReader.read(s, report).schema)
      case "mixed_session" => Workload(
        Seq("citation_components", "citation_mis").map(entry),
        Seq(Call("top30_report", "report", (s, _) =>
          Frame(Citations.top30(Citations.counts(EdgeListReader.read(s, mixed)))))),
        2, 2, { s => openGraph(s); EdgeListReader.read(s, mixed).schema })
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** What one execution produced, for the record. `end` is its completion
    * time in nanoTime. */
  final case class Exec(query: String, client: Int, pass: Int, warm: Boolean,
                        latency: Double, end: Long, ok: Boolean, err: Option[String])

  def main(args: Array[String]): Unit = args match {
    case Array("run", w, data, seconds, trace, out) => run(w, data, seconds.toDouble, trace == "1", out)
    case Array("setup", w, data, outFile) =>
      val (spark, seconds) = coldSetup(workload(w, data, Paths.get(outFile).getParent.toString))
      spark.stop()
      Files.writeString(Paths.get(outFile), s"$seconds\n")
    case _ => throw new IllegalArgumentException(
      "usage: PerfBench run <workload> <data> <seconds> <trace> <out> | setup <workload> <data> <file>")
  }

  /** Build the session and open the workload's inputs; also returns the
    * seconds from JVM start until both are done. */
  private def coldSetup(w: Workload): (SparkSession, Double) = {
    val s = BenchKit.session(periodicGC = "30min")
    w.inputs(s)
    (s, (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
  }

  private def run(wname: String, data: String, seconds: Double, trace: Boolean, out: String): Unit = {
    Files.createDirectories(Paths.get(out))
    val w = workload(wname, data, out)
    val (spark, setupS) = coldSetup(w)
    val sc = spark.sparkContext
    val census = new Census(sc)
    if (trace) sc.addSparkListener(census)

    val execs = mutable.ArrayBuffer.empty[Exec]
    val firstDigest = mutable.Map.empty[String, String]
    val dumps = mutable.LinkedHashMap.empty[String, (String, String)]
    val oracles = mutable.LinkedHashMap.empty[String, String]
    var queryIds = 0L

    def digest(bytes: Array[Byte]): String =
      MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

    /** Run one call inside a call span; check its result outside the timed
      * region. */
    def execute(call: Call, client: Int, pass: Span, passNo: Int, warm: Boolean): Exec = {
      val qid = synchronized { queryIds += 1; queryIds }
      val span = census.open(call.name, "call", Some(pass), qid)
      val t0 = System.nanoTime()
      var t1, t2 = t0
      var result: Either[Throwable, Either[(Array[Row], DataFrame), Path]] = null
      try {
        result = Right(call.run(spark, client) match {
          case Frame(df) =>
            t1 = System.nanoTime()
            val plan = df.queryExecution.executedPlan
            t2 = System.nanoTime()
            span.aqeOff =
              if (plan.isInstanceOf[AdaptiveSparkPlanExec]) Some(false)
              else if (plan.exists(_.isInstanceOf[Exchange])) Some(true)
              else None
            Left((df.collect(), df))
          case Written(p) =>
            t1 = System.nanoTime(); t2 = t1
            Right(p)
        })
      } catch { case e: Throwable => result = Left(e) }
      val t3 = System.nanoTime()
      census.close(span)
      span.callMs = (t1 - t0) / 1e6
      span.planMs = (t2 - t1) / 1e6
      span.resultMs = (t3 - t2) / 1e6
      span.heldMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB

      def describe(e: Throwable) = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      val (ok, err) = try result match {
        case Left(e) => (false, describe(e))
        case Right(r) =>
          val bytes: Array[Byte] = r match {
            case Right(p) => Files.readAllBytes(p)
            case Left((rows, _)) if call.check == "report" =>
              Citations.formatReport(rows.toSeq.map(x =>
                (x.getInt(0), x.getString(1), x.getLong(2))), GeneratedOn).getBytes(UTF_8)
            case Left((rows, _)) =>
              rows.map(_.mkString("\u0001")).sorted.mkString("\n").getBytes(UTF_8)
          }
          val d = digest(bytes)
          synchronized {
            firstDigest.get(call.name) match {
              case Some(first) => (first == d, None)
              case None =>
                firstDigest(call.name) = d
                dump(call, r, bytes)
                (true, None)
            }
          }
      } catch { case e: Throwable => (false, describe(e)) }
      val e = Exec(call.name, client, passNo, warm, (t3 - t0) / 1e9, System.nanoTime(), ok, err)
      synchronized(execs += e)
      e
    }

    def dump(call: Call, r: Either[(Array[Row], DataFrame), Path], bytes: Array[Byte]): Unit = {
      val path = call.check match {
        case "report" =>
          val p = s"$out/dump/${call.name}.txt"
          Files.createDirectories(Paths.get(s"$out/dump"))
          Files.write(Paths.get(p), bytes)
          p
        case _ =>
          val Left((rows, df)) = r
          val p = s"$out/dump/${call.name}"
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(p)
          if (call.check == "oracle") oracles(call.name) = SparkEntry.oracleSql(call.name)
          p
      }
      dumps(call.name) = (call.check, path)
    }

    def sweep(pass: Span): Unit = {
      val s = census.open("sweep", "sweep", Some(pass))
      val t = System.nanoTime()
      Blocks.sweepAll(spark)
      s.callMs = (System.nanoTime() - t) / 1e6
      census.close(s)
    }

    // every call once, sequentially; the first results feed the checks
    val firstPass = census.open("first", "pass", None)
    (w.background ++ w.foreground).foreach { c =>
      execute(c, 0, firstPass, -w.warmups - 1, warm = true)
      sweep(firstPass)
    }
    census.close(firstPass)

    // then the workload's own shape, clients running: negative pass numbers
    // are untimed warm-ups, the rest are timed; traced runs alternate
    // untraced and traced timed passes
    val passes = mutable.ArrayBuffer.empty[(Double, Boolean, Span)]
    val lock = new ReentrantReadWriteLock()
    @volatile var current: Span = null
    @volatile var passNo = -w.warmups
    @volatile var stop = false
    val clients = (1 to w.clients).map { c =>
      val t = new Thread(() => {
        while (!stop) w.foreground.foreach { call =>
          lock.readLock.lock()
          val p = passNo
          try execute(call, c, current, p, warm = p < 0)
          finally lock.readLock.unlock()
        }
      }, s"perfbench-client-$c")
      t.setDaemon(true)
      t
    }
    val minPasses = if (trace) 4 else 3
    var timedFrom = 0L
    def done: Boolean = passNo >= minPasses && (!trace || passNo % 4 == 0) &&
      (System.nanoTime() - timedFrom) / 1e9 >= seconds
    while (passNo < 0 || !done) {
      if (passNo == 0) timedFrom = System.nanoTime()
      val warm = passNo < 0
      // ABBA order, so linear drift over the run cancels out of the overhead
      census.enabled = trace && (passNo % 4 == 1 || passNo % 4 == 2)
      val pass = census.open(if (warm) s"warmup${-passNo}" else s"pass$passNo", "pass", None)
      current = pass
      if (passNo == -w.warmups) clients.foreach(_.start())
      var wall = 0.0
      w.background.foreach { c =>
        lock.readLock.lock()
        try wall += execute(c, 0, pass, passNo, warm).latency
        finally lock.readLock.unlock()
        // never while a query is in flight: a swept checkpoint is dead
        lock.writeLock.lock()
        try sweep(pass) finally lock.writeLock.unlock()
      }
      census.close(pass)
      if (!warm) passes += ((wall, pass.traced, pass))
      passNo += 1
    }
    val timedTo = System.nanoTime()
    stop = true
    clients.foreach(_.join())
    census.enabled = false

    // end of run: drain the listener bus, clean slate, full GC, heap in use
    org.apache.spark.PerfBenchBus.drain(sc)
    Blocks.sweepAll(spark)
    // the sweep's GC hands dead broadcasts and shuffles to the (async)
    // cleaner; let it finish, then read the live set the next full GC left
    Thread.sleep(500)
    System.gc()
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / MB

    writeResult(Paths.get(s"$out/result.json"), setupS, passes.toSeq, execs.toSeq,
      timedFrom, timedTo, heapMb, dumps.toMap, oracles.toMap, sc.defaultParallelism)
    if (trace) writeSpans(Paths.get(s"$out/spans.json"), census.all)
    spark.stop()
  }

  // ---- JSON out ------------------------------------------------------------

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Exec `end_s` and `window_s` count from the first timed pass's start;
    * the window ends when the last timed pass does. */
  private def writeResult(p: Path, setupS: Double, passes: Seq[(Double, Boolean, Span)],
                          execs: Seq[Exec], timedFrom: Long, timedTo: Long, heapMb: Double,
                          dumps: Map[String, (String, String)], oracles: Map[String, String],
                          cores: Int): Unit = {
    val sb = new StringBuilder("{")
    sb ++= s""""cores": $cores, "window_s": ${num((timedTo - timedFrom) / 1e9)}, """
    sb ++= s""""retained_heap_mb": ${num(heapMb)}, "setup_s": ${num(setupS)},"""
    sb ++= s""" "passes": [${passes.map { case (s, t, span) =>
      s"""{"seconds": ${num(s)}, "traced": $t, "span": ${span.id}}""" }.mkString(", ")}],"""
    sb ++= s""" "execs": [${execs.map { e =>
      s"""{"query": ${q(e.query)}, "client": ${e.client}, "pass": ${e.pass}, "warm": ${e.warm}, """ +
        s""""latency_s": ${num(e.latency)}, "end_s": ${num((e.end - timedFrom) / 1e9)}, """ +
        s""""ok": ${e.ok}, "err": ${e.err.map(q).getOrElse("null")}}"""
    }.mkString(",\n  ")}],"""
    sb ++= s""" "dumps": {${dumps.map { case (k, (check, path)) =>
      s"""${q(k)}: {"check": ${q(check)}, "path": ${q(path)}}""" }.mkString(", ")}},"""
    sb ++= s""" "oracle_sql": {${oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")}}"""
    sb ++= "}\n"
    Files.writeString(p, sb.toString)
  }

  private def writeSpans(p: Path, spans: Seq[Span]): Unit = {
    val rows = spans.map { s =>
      val cutWidth = if (s.cutWidthMin == Int.MaxValue) 0 else s.cutWidthMin
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "kind": ${q(s.kind)}, "parent": ${s.parent}, """ +
        s""""query_id": ${s.queryId}, "thread": ${q(s.thread)}, "traced": ${s.traced}, """ +
        s""""start": ${s.start}, "end": ${s.end}, "call_ms": ${num(s.callMs)}, """ +
        s""""plan_ms": ${num(s.planMs)}, "result_ms": ${num(s.resultMs)}, "held_mb": ${num(s.heldMb)}, """ +
        s""""aqe_off": ${s.aqeOff.map(_.toString).getOrElse("null")}, "jobs": ${s.jobs}, """ +
        s""""stages": ${s.stages}, "tasks": ${s.tasks}, "empty_tasks": ${s.emptyTasks}, """ +
        s""""cut_width_min": $cutWidth, "width_max": ${s.widthMax}, "task_ms": ${num(s.taskMs)}, """ +
        s""""run_ms": ${num(s.runMs)}, "cpu_ms": ${num(s.cpuMs)}, "gc_ms": ${num(s.gcMs)}, """ +
        s""""task_wait_ms": ${num(s.taskWaitMs)}, "idle_ms": ${num(if (s.kind == "call") s.idleMs else 0.0)}, """ +
        s""""shuffle_read_mb": ${num(s.shuffleReadMb)}, "shuffle_write_mb": ${num(s.shuffleWriteMb)}, """ +
        s""""shuffle_records_written": ${num(s.shuffleRecordsWritten)}, "spill_mb": ${num(s.spillMb)}, """ +
        s""""input_mb": ${num(s.inputMb)}, "input_records": ${num(s.inputRecords)}, """ +
        s""""scan_ms": ${num(s.scanMs)}, "put_count": ${s.putCount}, "put_mb": ${num(s.putMb)}}"""
    }
    Files.writeString(p, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}
