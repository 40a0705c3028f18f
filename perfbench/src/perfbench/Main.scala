package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.engine.{Ingest, Serving}
import graft.operators.Airline

/** One timed call into the program. A failed op keeps its time. */
final case class OpRec(kind: String, name: String, ms: Double, var ok: Boolean,
    var err: String, span: Span)

/** Per-pass end-to-end measurements; `kindMs` is the mean op latency
  * of each op kind ("query", "write") in the pass.
  */
final case class PassRec(wallS: Double, cpuS: Double, heapMb: Double, storedMb: Double,
    kindMs: Map[String, Double])

final class Ctx(val spark: SparkSession, val tracer: Tracer, val in: File,
    val work: File, val seconds: Int, val cores: Int) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val passes = mutable.ArrayBuffer.empty[PassRec]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, Any]

  /** Run `body` as one op: timed, traced, and counted as failed if it
    * throws a NonFatal exception. Fatal errors propagate.
    */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val cpu0 = Pools.cpuNs
    try {
      val (r, s) = tracer.span(name)(body)
      ops += OpRec(kind, name, s.ms, ok = true, null, s)
      Some(r)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] op $name failed: $e")
        ops += OpRec(kind, name, (System.nanoTime() - t0) / 1e6, ok = false,
          e.toString, tracer.spans.lastOption.filter(_.name == name).orNull)
        None
    } finally {
      opWallNs += System.nanoTime() - t0
      opCpuNs += Pools.cpuNs - cpu0
    }
  }
  private var opWallNs = 0L
  private var opCpuNs = 0L

  /** Mark op `rec` failed if its untimed `check` does not hold. */
  def verify(rec: OpRec, what: String)(check: => Boolean): Unit = {
    val good = try check catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] check of ${rec.name} threw: $e"); false }
    if (!good && rec.ok) {
      rec.ok = false
      rec.err = s"check failed: $what"
      System.err.println(s"[perfbench] ${rec.name}: check failed: $what")
    }
  }

  /** Timed passes until `seconds` of op time have elapsed (at least
    * one). A pass's wall and cpu are those of its ops, so the untimed
    * checks some workloads run between ops are left out. Returns the
    * trace spans of the passes, after the listener has caught up.
    */
  def timedPasses(maxPasses: Int)(pass: Int => Unit)(stored: Int => Long): Seq[Span] = {
    val spans = mutable.ArrayBuffer.empty[Span]
    var k = 0
    var timed = 0.0
    while (k < maxPasses && (k == 0 || timed < seconds)) {
      tracer.newTrace()
      Pools.resetPeak()
      opWallNs = 0L; opCpuNs = 0L
      val before = ops.size
      val (_, s) = tracer.span("pass")(pass(k))
      timed += opWallNs / 1e9
      val kindMs = ops.drop(before).groupBy(_.kind).map { case (kind, os) =>
        kind -> os.map(_.ms).sum / os.size }
      passes += PassRec(opWallNs / 1e9, opCpuNs / 1e9, Pools.peakMb, stored(k) / 1e6, kindMs)
      spans += s
      k += 1
    }
    if (!tracer.drain()) notes("listener_drained") = false
    spans.toSeq
  }

  def f(p: String): File = new File(work, p)
  def opsNamed(n: String): Seq[OpRec] = ops.filter(_.name == n).toSeq

  /** Per-layer numbers of one span subtree. */
  def agg(spans: Seq[Span]): (Double, Long, Double, Double, Double) = {
    val cs = spans.flatMap(tracer.subtree)
    val s = spans.map(_.ms).sum / 1e3
    val jobs = cs.map(_.jobs.get).sum
    val cpu = cs.map(_.cpuNs.get).sum / 1e9
    val shw = cs.map(_.shuffleWriteB.get).sum / 1e6
    val util = if (s > 0) cpu / (s * cores) else 0.0
    (s, jobs, cpu, shw, util)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work")); work.mkdirs()
    var spark: SparkSession = null
    try {
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val sessionReadyMs = System.currentTimeMillis()
      val ctx = new Ctx(spark, new Tracer(spark.sparkContext, trace),
        new File(a("in")), work, a("seconds").toInt, cores)
      val (warmupS, setupS, checks) = workload match {
        case "airline_etl" => Workloads.airlineEtl(ctx)
        case "airline_serving" => Workloads.airlineServing(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val stamp = Map(
        "spark_version" -> spark.version,
        "jvm_version" -> System.getProperty("java.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "cores" -> cores)
      val passIds = ctx.tracer.spans.filter(_.name == "pass").map(_.id).toSet
      val opSpans = ctx.tracer.spans.filter(s => passIds(s.parent))
      val result = Map(
        "provenance" -> stamp,
        "session_ready_ms" -> sessionReadyMs,
        "warmup_s" -> warmupS,
        "setup_s" -> setupS,
        "passes" -> ctx.passes.map(p => Map("wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
          "heap_peak_mb" -> p.heapMb, "stored_mb" -> p.storedMb,
          "query_ms" -> p.kindMs.getOrElse("query", 0.0),
          "write_ms" -> p.kindMs.getOrElse("write", 0.0))).toList,
        "ops" -> ctx.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
          "ms" -> o.ms, "ok" -> o.ok, "err" -> o.err)).toList,
        "checks" -> checks,
        "layer" -> ctx.layer.toMap,
        "notes" -> ctx.notes.toMap,
        "op_spans_ms" -> opSpans.map(_.ms).sum,
        "pass_spans_ms" -> ctx.tracer.spans.filter(s => passIds(s.id)).map(_.ms).sum)
      if (trace) ctx.tracer.writeJsonl(a("spans"), stamp ++ Map("workload" -> workload,
        "seed" -> a("seed")))
      val w = new java.io.PrintWriter(a("result"), "UTF-8")
      try w.println(Json(result)) finally w.close()
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        System.exit(2)
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(3)
    } finally if (spark != null) spark.stop()
  }
}

object Workloads {
  /** (warm-up s, once-per-table set-up s, check spec) */
  type Out = (Double, Double, Map[String, Any])

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  // ---------------------------------------------------------------- etl

  /** Result shapes written by the eight query ops, with their serving
    * keys (the reference's query-keyed tables).
    */
  private val EtlQueries: Seq[(String, Seq[String])] = Seq(
    "top10Airports" -> Nil, "top10AirlinesOnTime" -> Nil,
    "top10CarriersPerAirport" -> Seq("Origin"), "top10DestPerAirport" -> Seq("Origin"),
    "top10CarriersPerRoute" -> Seq("Origin"), "sortedFrequencies" -> Nil,
    "legCandidates" -> Seq("Origin"), "bestLegs" -> Seq("origin"))

  private val requestSchema = StructType(Seq(
    StructField("origin", StringType), StructField("stop", StringType),
    StructField("dest", StringType), StructField("request_date", DateType)))

  /** One pass of the paper's pipeline: 240 CSVs into the warehouse,
    * the eight queries over it, each result written keyed.
    */
  private def etlPass(c: Ctx, in: File, dir: File): Unit = {
    val spark = c.spark
    val wh = new File(dir, "warehouse").getPath
    c.op("write", "ingest") {
      Ingest.writeWarehouse(Ingest.readCsv(spark, s"$in/csv/*/*.csv"), wh)
    }
    for ((q, keys) <- EtlQueries) c.op("query", s"airline.$q") {
      val flights = Ingest.readWarehouse(spark, wh)
      val result = q match {
        case "top10Airports" => Airline.top10Airports(flights)
        case "top10AirlinesOnTime" => Airline.top10AirlinesOnTime(flights)
        case "top10CarriersPerAirport" => Airline.top10CarriersPerAirport(flights)
        case "top10DestPerAirport" => Airline.top10DestPerAirport(flights)
        case "top10CarriersPerRoute" => Airline.top10CarriersPerRoute(flights)
        case "sortedFrequencies" => Airline.sortedFrequencies(flights)
        case "legCandidates" => Airline.legCandidates(flights)
        case "bestLegs" =>
          val requests = spark.read.schema(requestSchema).option("header", "true")
            .option("dateFormat", "yyyy-MM-dd").csv(s"$in/requests.csv")
          Airline.formatBestLegs(Airline.bestLegs(requests, Airline.legCandidates(flights)))
      }
      Serving.writeKeyed(result, new File(dir, s"out/$q").getPath, keys)
    }
  }

  /** The paper's batch pipeline. A warm-up pass over the small warm/
    * input set JIT-compiles the code paths; one timed pass then runs
    * over the 240 monthly files. Nothing is built once per warehouse,
    * so the set-up term is 0.
    */
  def airlineEtl(c: Ctx): Out = {
    val warm = timeS(etlPass(c, new File(c.in, "warm"), c.f("warmup")))
    Disk.rm(c.f("warmup"))
    c.ops.clear(); c.tracer.reset()
    val dir = c.f("pass")
    val Seq(pass) = c.timedPasses(1)(_ => etlPass(c, c.in, dir))(_ => Disk.bytes(dir))
    if (c.tracer.on) etlLayers(c, pass, dir)
    val checks = Map("kind" -> "airline_etl", "dir" -> new File(dir, "out").getPath,
      "queries" -> EtlQueries.map(_._1))
    (warm, 0.0, checks)
  }

  private def etlLayers(c: Ctx, pass: Span, dir: File): Unit = {
    def kid(name: String) = c.tracer.spans.filter(s => s.parent == pass.id && s.name == name).toSeq
    val (ingestS, _, ingestCpu, _, ingestUtil) = c.agg(kid("ingest"))
    c.layer("ingest.s") = ingestS
    c.layer("ingest.exec_cpu_s") = ingestCpu
    c.layer("ingest.slot_util") = ingestUtil
    val wh = new File(dir, "warehouse")
    val raw = Disk.files(new File(c.in, "csv")).map { f =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().size - 1 finally src.close()
    }.sum
    val kept = Ingest.readWarehouse(c.spark, wh.getPath).count()
    c.layer("ingest.rows_kept_ratio") = kept.toDouble / raw
    c.layer("ingest.files_out") = Disk.dataFiles(wh).size
    c.layer("ingest.mb_out") = Disk.bytes(wh) / 1e6
    var finalStageMs = 0L
    for ((q, _) <- EtlQueries) {
      val ops = kid(s"airline.$q")
      val (s, jobs, _, shw, util) = c.agg(ops)
      c.layer(s"airline.$q.s") = s
      c.layer(s"airline.$q.jobs") = jobs.toDouble
      c.layer(s"airline.$q.shuffle_write_mb") = shw
      c.layer(s"airline.$q.slot_util") = util
      finalStageMs += ops.map(o => o.endMs - c.tracer.counters(o).lastStageSubmitMs.get).sum
    }
    c.layer("keyed_write.final_stage_s") = finalStageMs / 1e3
    c.layer("keyed_write.files") = Disk.dataFiles(new File(dir, "out")).size
  }

  // ------------------------------------------------------------ serving

  private val keyedSchema = StructType(Seq(
    StructField("airport", StringType), StructField("carrier", StringType),
    StructField("flights", IntegerType), StructField("avg_dep_delay", DoubleType)))
  private val Keys = Seq("airport")
  private val Ids = Seq("airport", "carrier")

  private final case class SOp(op: String, airport: String,
      rows: Seq[(String, Int, Double)], carriers: Seq[String])

  private def readOps(path: String): Seq[SOp] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val src = scala.io.Source.fromFile(path)
    val js = try parse(src.mkString) finally src.close()
    val JArray(items) = js
    items.map { o =>
      val JString(op) = o \ "op"
      val JString(ap) = o \ "airport"
      val rows = (o \ "rows") match {
        case JArray(rs) => rs.map { case JArray(List(_, JString(cr), JInt(n), JDouble(v))) =>
          (cr, n.toInt, v)
        case JArray(List(_, JString(cr), JInt(n), JInt(v))) => (cr, n.toInt, v.toDouble)
        }
        case _ => Nil
      }
      val carriers = (o \ "carriers") match {
        case JArray(cs) => cs.collect { case JString(s) => s }
        case _ => Nil
      }
      SOp(op, ap, rows, carriers)
    }
  }

  /** The in-memory model of the keyed table the checks compare against. */
  private def readModel(path: String): mutable.Map[(String, String), (Int, Double)] = {
    val src = scala.io.Source.fromFile(path)
    try {
      val m = mutable.Map.empty[(String, String), (Int, Double)]
      src.getLines().drop(1).foreach { l =>
        val Array(a, c, n, v) = l.split(",")
        m((a, c)) = (n.toInt, v.toDouble)
      }
      m
    } finally src.close()
  }

  private def scanMetric(df: DataFrame, name: String): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec =>
      s.metrics.get(name).map(_.value).getOrElse(0L) }.sum
  }

  private def runServingOp(c: Ctx, table: String, o: SOp,
      model: Option[mutable.Map[(String, String), (Int, Double)]],
      bytesPerRow: Double, amp: Array[Double],
      scans: Array[mutable.ArrayBuffer[Double]]): Unit = {
    val spark = c.spark
    def partition(a: String): Set[(String, Int, Double)] = {
      val dir = new File(table, s"airport=$a")
      if (!dir.isDirectory) Set.empty
      else spark.read.parquet(dir.getPath).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    }
    def modelRows(m: mutable.Map[(String, String), (Int, Double)], a: String) =
      m.collect { case ((x, cr), (n, v)) if x == a => (cr, n, v) }.toSet
    o.op match {
      case "lookup" =>
        val r = c.op("query", "serving.lookup") {
          val (df, _) = c.tracer.span("serving.lookup.open") {
            Serving.lookup(spark, table, Map("airport" -> o.airport)) }
          val (rows, _) = c.tracer.span("serving.lookup.exec")(df.collect())
          (df, rows)
        }
        for ((df, rows) <- r) {
          val rec = c.ops.last
          if (c.tracer.on) {
            scans(0) += scanMetric(df, "numFiles").toDouble
            scans(1) += scanMetric(df, "numPartitions").toDouble
          }
          for (m <- model) c.verify(rec, s"lookup ${o.airport} == model") {
            val got = rows.map(x => (x.getAs[String]("carrier"), x.getAs[Int]("flights"),
              x.getAs[Double]("avg_dep_delay"))).toSet
            rows.forall(_.getAs[String]("airport") == o.airport) &&
              rows.length == got.size && got == modelRows(m, o.airport)
          }
        }
      case "upsert" =>
        val rows = o.rows.map { case (cr, n, v) => Row(o.airport, cr, n, v) }
        val ok = c.op("write", "serving.upsert") {
          val updates = spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), keyedSchema)
          Serving.upsertKeyed(spark, table, updates, Keys, Ids)
        }
        for (m <- model) {
          o.rows.foreach { case (cr, n, v) => m((o.airport, cr)) = (n, v) }
          if (ok.isDefined) c.verify(c.ops.last, s"partition ${o.airport} after upsert == model") {
            partition(o.airport) == modelRows(m, o.airport)
          }
          amp(0) += Disk.bytes(new File(table, s"airport=${o.airport}"))
          amp(1) += o.rows.size * bytesPerRow
        }
      case "delete" =>
        val receipt = c.op("write", "serving.delete") {
          val tomb = spark.createDataFrame(java.util.Arrays.asList(
            o.carriers.map(cr => Row(o.airport, cr)): _*),
            StructType(keyedSchema.fields.take(2)))
          Serving.deleteKeyed(spark, table, tomb, Keys, Ids)
        }
        for (m <- model) {
          val before = modelRows(m, o.airport).size
          val present = o.carriers.count(cr => m.contains((o.airport, cr)))
          o.carriers.foreach(cr => m.remove((o.airport, cr)))
          for (r <- receipt) c.verify(c.ops.last, s"delete receipt for ${o.airport}") {
            val after = before - present
            r.rowsBefore == before && r.rowsDeleted == present && r.rowsAfter == after &&
              r.partitionsRemoved == (if (before > 0 && after == 0) 1 else 0) &&
              r.partitionsRewritten == (if (after > 0) 1 else 0) &&
              partition(o.airport) == modelRows(m, o.airport)
          }
          amp(0) += Disk.bytes(new File(table, s"airport=${o.airport}"))
          amp(1) += present * bytesPerRow
        }
    }
  }

  private def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles).toSeq.flatten.foreach(f => copyTree(f, new File(dst, f.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)

  private val WarmRounds = 8

  def airlineServing(c: Ctx): Out = {
    val spark = c.spark
    val csv = new File(c.in, "keyed.csv").getPath
    val ops = readOps(new File(c.in, "ops.json").getPath)
    val rounds = ops.grouped(6).toSeq
    val table = c.f("table").getPath
    def build(path: String): Unit = Serving.writeKeyed(
      spark.read.schema(keyedSchema).option("header", "true").csv(csv), path, Keys)
    val setup = Stats.median((1 to 3).map(_ => timeS(build(table))))
    // warm-up: the first WarmRounds rounds against a throwaway copy of
    // the table; a served table answers from a warm JVM. On 4 cores, round
    // wall keeps falling by up to 40% over the first seven or eight rounds
    // while the JIT catches up, so with fewer warm-up rounds the median
    // timed round depends on how many rounds a run fits
    val warm = timeS {
      copyTree(new File(table), c.f("warm"))
      rounds.take(WarmRounds).flatten.foreach(o => runServingOp(c, c.f("warm").getPath, o,
        None, 0, Array(0.0, 0.0), Array.fill(2)(mutable.ArrayBuffer.empty[Double])))
    }
    Disk.rm(c.f("warm"))
    c.ops.clear(); c.tracer.reset()
    val model = readModel(csv)
    val bytesPerRow = Disk.bytes(new File(table)).toDouble / model.size
    val amp = Array(0.0, 0.0)
    val scans = Array.fill(2)(mutable.ArrayBuffer.empty[Double])
    c.timedPasses(rounds.size) { k =>
      rounds(k).foreach(o => runServingOp(c, table, o, Some(model), bytesPerRow, amp, scans))
    } { _ => Disk.bytes(new File(table)) }
    if (c.tracer.on) {
      def med(n: String)(f: OpRec => Double) = Stats.median(c.opsNamed(n).filter(_.span != null).map(f))
      def kid(o: OpRec, n: String) = c.tracer.spans.find(s => s.parent == o.span.id && s.name == n)
      c.layer("serving.lookup.open_ms") = med("serving.lookup")(o => kid(o, "serving.lookup.open").map(_.ms).getOrElse(0.0))
      c.layer("serving.lookup.exec_ms") = med("serving.lookup")(o => kid(o, "serving.lookup.exec").map(_.ms).getOrElse(0.0))
      c.layer("serving.lookup.jobs") = med("serving.lookup")(o => c.tracer.subtree(o.span).map(_.jobs.get).sum.toDouble)
      c.layer("serving.lookup.files_read") = Stats.median(scans(0).toSeq)
      c.layer("serving.lookup.partitions_read") = Stats.median(scans(1).toSeq)
      val lk = c.opsNamed("serving.lookup").map(_.ms)
      val tail = Stats.tail(lk)
      c.layer("serving.lookup.tail_ms") = tail.map(_._2).getOrElse(lk.maxOption.getOrElse(0.0))
      c.notes("lookup_tail") = Map("percentile" -> tail.map(_._1).getOrElse(100.0),
        "samples" -> lk.size)
      c.layer("serving.upsert.ms") = med("serving.upsert")(_.ms)
      c.layer("serving.upsert.jobs") = med("serving.upsert")(o => c.tracer.subtree(o.span).map(_.jobs.get).sum.toDouble)
      c.layer("serving.delete.ms") = med("serving.delete")(_.ms)
      c.layer("serving.delete.jobs") = med("serving.delete")(o => c.tracer.subtree(o.span).map(_.jobs.get).sum.toDouble)
      c.layer("serving.write_amp") = if (amp(1) > 0) amp(0) / amp(1) else 0.0
      c.layer("serving.table_files") = Disk.dataFiles(new File(table)).size
    }
    (warm, setup, Map("kind" -> "in_jvm_model"))
  }
}
