package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{BuildCache, SparkEntry, Tables}
import graft.dedup.Dedup
import graft.sources.Ingest

/** One executed operation. Times are seconds except the epoch-us
  * window, which places the operation against Spark's job times. */
final case class Sample(name: String, module: String, round: Int,
    traced: Boolean, wallS: Double, constructS: Double, execS: Double,
    gcS: Double, startUs: Long, endUs: Long, op: Int, rows: Long,
    error: Option[String])

/** The benchmark's JVM: builds one `local[N]` session, sets up the
  * workload, runs its warm-up round and then the planned closed-loop
  * rounds of the mix, checking every operation's output.
  * Writes raw samples (and, traced, spans and stage aggregates) as one
  * JSON file; perfbench/run.py turns them into metrics.
  *
  * Arguments (all `--key value`): workload, seed, trace,
  * data (base tables), work (scratch dir), staging (landing batches),
  * plan (plan.json, written by perfbench/run.py: the mix's entry names,
  * the number of measured rounds and their seeded orders, or the
  * entries to record), expected (expected.json), out (result file),
  * mode (run | record | warm).
  * `record` runs every planned entry once, writes its rows and hash,
  * and dumps the oracle-checked ones for the DuckDB cross-check.
  * `warm` runs every planned entry once and checks nothing: the build
  * runs it to write the JVM's class-data archive.
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val calibBefore = calibrate()
    val spark = session(Paths.get(a("work")))
    val sessionS =
      ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 - calibBefore
    val plan = mapper.readTree(Paths.get(a("plan")).toFile)
    val result =
      try a.getOrElse("mode", "run") match {
        case "record" => record(spark, a, names(plan.get("entries")))
        case "warm" =>
          names(plan.get("entries")).foreach { name =>
            Ops.drain(SparkEntry.queries(name)(spark, a("data")), s"warm_$name")
          }
          obj()
        case _ => new Run(spark, a, plan, sessionS, calibBefore).apply()
      } finally spark.stop()
    Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(result))
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed pure-JVM integer loop; its wall time stamps how much CPU
    * the host gave this process, independent of graft and Spark. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 300000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 0) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def names(a: JsonNode): Seq[String] = a.elements().asScala.map(_.asText).toSeq

  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Every entry once: rows and hash, plus a parquet dump of the
    * oracle-checked ones and their oracle SQL. */
  def record(spark: SparkSession, a: Map[String, String], entries: Seq[String]): Any = {
    BuildCache.enable()
    val data = a("data")
    val dump = Paths.get(a("work")).resolve("dump")
    val out = entries.map { name =>
      spark.catalog.clearCache()
      val (rows, hash) = Ops.drain(SparkEntry.queries(name)(spark, data), s"rec_$name")
      SparkEntry.oracleSql.get(name).foreach { _ =>
        SparkEntry.queries(name)(spark, data).coalesce(1)
          .write.mode("overwrite").parquet(dump.resolve(name).toString)
      }
      name -> obj("rows" -> rows, "hash" -> hash)
    }
    val oracles = entries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    obj("entries" -> obj(out: _*), "oracle_sql" -> obj(oracles: _*))
  }
}

final class Run(spark: SparkSession, a: Map[String, String], plan: JsonNode,
    sessionS: Double, calibBefore: Double) {
  import Main.{names, obj}
  private val workload = a("workload")
  private val traceRun = a("trace") == "1"
  private val data = a("data")
  private val work = Paths.get(a("work"))
  private val tracer = new Tracer(spark.sparkContext, workload)
  private val expected: JsonNode = new ObjectMapper().readTree(Paths.get(a("expected")).toFile)
  private val ops = names(plan.get("mix")).map(Ops.op)
  /** Run by a traced run after its measured rounds, twice: the
    * streaming leg (ingest micro-batches, then folds) and the served
    * reads whose BuildCache builds are too slow for every run's set-up.
    * The first pass starts the ingest query, compiles the folds and
    * runs the builds; the second is recorded. */
  private val legOps = names(plan.get("leg")).map(Ops.op)
  private lazy val ingest =
    new IngestLeg(spark, work, Paths.get(a("staging")), tracer)
  private lazy val tally: JsonNode =
    new ObjectMapper().readTree(Paths.get(a("staging")).resolve("tally.json").toFile)
  private val samples = ArrayBuffer.empty[Sample]

  /** The seeded order of the mix in each measured round
    * (perfbench/gen.py); one order per round. */
  private val orders: JsonNode = plan.get("orders")

  /** The warm-up round: every operation once, checked. It JIT-compiles
    * the engine, fills Spark's code-generation cache and runs the
    * BuildCache constructions, so the measured rounds see a warm JVM. */
  private def warmUp(): Seq[Sample] = ops.map(op => runOp(op, -1))

  def apply(): Any = {
    BuildCache.enable()
    val w0 = System.nanoTime()
    val b0 = BuildCache.totalBuildSec
    samples ++= warmUp()
    spark.catalog.clearCache()
    val buildS = BuildCache.totalBuildSec - b0
    val warmupS = (System.nanoTime() - w0) / 1e9 - buildS
    val setupEndMs = System.currentTimeMillis()

    // whole rounds only, as many as perfbench/run.py planned for the
    // requested seconds, so every run measures the same mix as often
    val t0 = System.nanoTime()
    val rounds = plan.get("rounds").asInt
    for (round <- 0 until rounds) {
      orders.get(round).elements().asScala.map(_.asInt).foreach { i =>
        val op = ops(i)
        // a traced run traces every other operation of the mix, the
        // other half in the next round, so the tracing overhead is
        // measured in the same window on the same operations
        val traced = traceRun && (i + round) % 2 == 0
        tracer.enabled = traced
        tracer.listener.active = traced
        samples += runOp(op, round)
      }
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    tracer.enabled = traceRun
    tracer.listener.active = false
    val probes = if (traceRun) runProbes() else obj()
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    val calibAfter = Main.calibrate()
    obj(
      "workload" -> workload, "trace" -> traceRun,
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "rounds" -> rounds, "window_s" -> windowS,
      "setup" -> obj("session_s" -> sessionS, "warmup_s" -> warmupS,
        "build_s" -> buildS, "setup_end_ms" -> setupEndMs),
      "host" -> obj("calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter),
      "peak_rss_mb" -> Main.peakRssMb,
      "samples" -> samples.map(sampleJson).asJava,
      "ingest" -> ingestJson,
      "probes" -> probes,
      "spans" -> tracer.allSpans.map(s => obj("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs)).asJava,
      "jobs" -> tracer.listener.jobs.map(j => obj("id" -> j.jobId,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs)).asJava,
      "stages" -> tracer.listener.stages.map(s => obj("id" -> s.stageId,
        "attempt" -> s.attempt, "submit_ms" -> s.submitMs, "done_ms" -> s.doneMs,
        "tasks" -> s.tasks, "failed" -> s.failed, "busy_ms" -> s.busyMs,
        "wait_ms" -> s.waitMs, "max_task_ms" -> s.maxTaskMs,
        "median_task_ms" -> s.medianTaskMs, "input_b" -> s.inputB,
        "shuffle_read_b" -> s.shuffleReadB, "shuffle_write_b" -> s.shuffleWriteB,
        "spill_b" -> s.spillB, "output_b" -> s.outputB)).asJava)
  }

  private def sampleJson(s: Sample) = obj("name" -> s.name, "module" -> s.module,
    "round" -> s.round, "traced" -> s.traced, "wall_s" -> s.wallS,
    "construct_s" -> s.constructS, "exec_s" -> s.execS, "gc_s" -> s.gcS,
    "start_us" -> s.startUs, "end_us" -> s.endUs, "op" -> s.op,
    "rows" -> s.rows, "error" -> s.error.orNull)

  private val opIds = new java.util.concurrent.atomic.AtomicInteger(0)

  private def runOp(op: Op, round: Int): Sample = {
    spark.catalog.clearCache()
    val id = opIds.incrementAndGet()
    if (tracer.enabled) tracer.beginOp(op.name, id)
    val gc0 = Main.gcSeconds
    val startUs = tracer.nowUs
    val n0 = System.nanoTime()
    var n1 = n0
    var rows = -1L
    val err: Option[String] =
      try {
        op match {
          case EntryOp(name, module) =>
            val hash = tracer.span(s"op:$name") {
              val df = tracer.span(s"$module.construct", "construct") {
                SparkEntry.queries(name)(spark, data)
              }
              n1 = System.nanoTime()
              val (r, h) = tracer.span(s"$module.exec", "exec") {
                Ops.drain(df, s"chk$id")
              }
              rows = r
              h
            }
            checkEntry(name, rows, hash)
          case IngestOp(name) =>
            val leg = ingest
            tracer.span(s"op:$name") {
              tracer.span("Ingest.land")(leg.land())
              n1 = System.nanoTime()
              tracer.span("Streaming.commit", "commit")(leg.commit())
            }
            rows = tally.get("batches").get(leg.batchesLanded - 1).get("valid").asLong
            checkGold(leg)
        }
      } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val n2 = System.nanoTime()
    val endUs = tracer.nowUs
    val sample = Sample(op.name, op.module, round, tracer.enabled,
      (n2 - n0) / 1e9, (n1 - n0) / 1e9, (n2 - n1) / 1e9,
      Main.gcSeconds - gc0, startUs, endUs, id, rows, err)
    err.foreach(e => System.err.println(s"[perfbench] ${op.name} failed: $e"))
    sample
  }

  private def checkEntry(name: String, rows: Long, hash: Long): Option[String] = {
    val e = expected.get("entries").get(name)
    if (e == null) Some("no expected output recorded")
    else if (e.get("rows").asLong != rows)
      Some(s"rows $rows, expected ${e.get("rows").asLong}")
    else if (e.get("hash").asLong != hash)
      Some(s"content hash $hash, expected ${e.get("hash").asLong}")
    else None
  }

  /** Gold per-user totals against the generator's tally after the
    * batches landed so far: counts exactly, totals to 1e-9. */
  private def checkGold(leg: IngestLeg): Option[String] = {
    val want = tally.get("batches").get(leg.batchesLanded - 1).get("totals")
    val got = leg.goldTotals()
    val keys = want.fieldNames().asScala.toSeq
    if (keys.size != got.size) Some(s"gold has ${got.size} users, expected ${keys.size}")
    else keys.collectFirst(Function.unlift { k =>
      val w = want.get(k)
      got.get(k.toLong) match {
        case None => Some(s"user $k missing from gold")
        case Some((tot, cnt)) =>
          val wt = w.get(0).asDouble
          if (cnt != w.get(1).asLong) Some(s"user $k count $cnt, expected ${w.get(1).asLong}")
          else if (math.abs(tot - wt) > 1e-9 * math.max(1.0, math.abs(wt)))
            Some(s"user $k total $tot, expected $wt")
          else None
      }
    })
  }

  private var streamProbed = false

  private def ingestJson: Any =
    if (!streamProbed) obj()
    else {
      val leg = ingest
      val gold = try leg.goldTotals().values.map(_._2).sum catch { case NonFatal(_) => -1L }
      obj("batches" -> leg.batchesLanded, "gold_events" -> gold,
        "landed_bytes" -> leg.landedBytes, "dup_dropped" -> leg.dupDropped,
        "merge_s" -> leg.mergeSecs.asJava, "gold_bytes" -> leg.goldBytes.asJava)
    }

  /** The traced run's layer probes: each drains one layer call on its
    * own, so its counts and walls are attributable to that layer. */
  private def runProbes(): Any = workload match {
    case "corpus_dedup" =>
      spark.catalog.clearCache()
      tracer.beginOp("probe_dedup", opIds.incrementAndGet())
      val t = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      def timed[T](name: String, phase: String)(body: => T): T = {
        val n0 = System.nanoTime()
        val v = tracer.span(name, phase)(body)
        t(name.stripPrefix("Dedup.") + "_s") = (System.nanoTime() - n0) / 1e9
        v
      }
      timed("Dedup.shingle", "shingle")(Ops.drain(Dedup.shingledDocs(spark, data), "p_sh"))
      val md5 = timed("Dedup.md5_candidates", "md5_candidates") {
        Dedup.md5BandCandidatePairs(Dedup.shingledDocs(spark, data)).localCheckpoint(true)
      }
      t("md5_candidate_pairs") = md5.count()
      var cands: DataFrame = null
      var verified: DataFrame = null
      timed("Dedup.verify", "verify") {
        cands = timed("Dedup.candidates", "candidates") {
          Dedup.d23CandidatePairs(spark, data).localCheckpoint(true)
        }
        verified = Dedup.verifyPairs(cands, Dedup.shingledDocs(spark, data))
          .localCheckpoint(true)
      }
      t("candidate_pairs") = cands.count()
      t("verified_pairs") = verified.count()
      timed("Dedup.components", "components") {
        Ops.drain(Dedup.connectedComponents(
          Tables.documents(spark, data).select(col("doc_id").as("id")),
          verified.select(col("doc_a").as("src"), col("doc_b").as("dst"))), "p_cc")
      }
      obj(t.toSeq: _*)
    case "lakehouse_serve" =>
      streamProbed = true
      tracer.listener.active = true
      val b0 = BuildCache.totalBuildSec
      for (round <- Seq(-3, -2); op <- legOps) samples += runOp(op, round)
      val legBuildS = BuildCache.totalBuildSec - b0
      tracer.listener.active = false
      tracer.beginOp("probe_ingest", opIds.incrementAndGet())
      val df = Ingest.ingestBatch(spark, Paths.get(a("staging")).resolve("probe").toString)
      val n0 = System.nanoTime()
      val (rows, _) = tracer.span("Ingest.bronze", "bronze")(Ops.drain(df, "p_bronze"))
      val bronzeS = (System.nanoTime() - n0) / 1e9
      obj("bronze_s" -> bronzeS, "bronze_rows" -> rows, "leg_build_s" -> legBuildS,
        "rescued_rows" -> df.filter(col("is_rescued")).count())
    case _ => obj()
  }
}
