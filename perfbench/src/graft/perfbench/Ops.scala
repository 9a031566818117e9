package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.sources.Ingest
import graft.streaming.Streaming

/** One operation of a workload mix. */
sealed trait Op {
  def name: String
  def module: String
}

/** A registered graft entry: construct = the entry call, exec = the
  * `noop` drain of the frame it returns. */
final case class EntryOp(name: String, module: String) extends Op

/** One streaming ingest micro-batch: land a batch of JSON files, wait
  * until the gold table has committed it. */
final case class IngestOp(name: String) extends Op { def module = "Streaming" }

object Ops {
  /** Module (layer) of a registered entry, by the registry it is in. */
  def moduleOf(entry: String): String = {
    import graft.operators.Relational
    import graft.text.TextOps
    import graft.dedup.Dedup
    import graft.ann.Ann
    import graft.sources.Export
    Seq("Relational" -> Relational.queries, "TextOps" -> TextOps.queries,
      "Dedup" -> Dedup.queries, "Ann" -> Ann.queries,
      "Export" -> Export.queries, "Streaming" -> Streaming.queries)
      .collectFirst { case (m, qs) if qs.contains(entry) => m }
      .getOrElse(sys.error(s"unknown entry $entry"))
  }

  /** The operation an entry name stands for: `ingest_batch_<i>` is one
    * streaming ingest micro-batch, any other name a registered entry. */
  def op(name: String): Op =
    if (name.startsWith("ingest_batch")) IngestOp(name)
    else EntryOp(name, moduleOf(name))

  /** Order-independent content hash of a frame, computed while the
    * frame drains: each row hashes to xxhash64 over its columns, the
    * low 32 bits are summed. Floating-point values are rounded to
    * single precision first so that a differing summation order in the
    * last bits of a double does not change the hash; maps become
    * key-sorted entry arrays. */
  def checkExprs(df: DataFrame): (Column, Column) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType      => c.cast(FloatType)
      case a: ArrayType    => transform(c, e => norm(e, a.elementType))
      case s: StructType   =>
        struct(s.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
      case m: MapType      =>
        array_sort(transform(map_entries(c), e =>
          struct(norm(e.getField("key"), m.keyType).as("k"),
            norm(e.getField("value"), m.valueType).as("v"))))
      case _               => c
    }
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    (count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("hash"))
  }

  /** Drain through the noop sink, observing rows and content hash. */
  def drain(df: DataFrame, obsName: String): (Long, Long) = {
    val (r, h) = checkExprs(df)
    val obs = Observation(obsName)
    df.observe(obs, r, h).write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])
  }
}

/** The streaming ingest leg: `Ingest.ingestStream` over a landing
  * directory → drop rescued rows → `Streaming.dedupStream(_,
  * "event_id")` → gold MERGE (`Streaming.defaultGoldWriter`, the body
  * of `Streaming.goldMergeQuery`, timed inside the benchmark's own
  * `foreachBatch`), with one checkpoint across batches. Each [[land]]
  * moves one pre-generated batch's files into the landing directory;
  * [[commit]] runs the query with `Trigger.AvailableNow` until it has
  * processed them, its state-eviction batch included. A query left
  * running between operations would run that eviction batch, and its
  * polling, inside whichever operation came next.
  */
final class IngestLeg(spark: SparkSession, work: Path, staging: Path,
    tracer: Tracer) {
  private val landing = work.resolve("landing")
  val gold: String = work.resolve("gold").toString
  private val checkpoint = work.resolve("checkpoint").toString
  Files.createDirectories(landing)
  private val batches: IndexedSeq[Path] =
    Files.list(staging).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.matches("b\\d+"))
      .toIndexedSeq.sortBy(_.getFileName.toString)
  private var next = 0
  /** Wall seconds inside the gold writer, per micro-batch. */
  val mergeSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
  val goldBytes = scala.collection.mutable.ArrayBuffer.empty[Long]
  var landedBytes = 0L
  /** Rows the dedup operator dropped, as the query's progress reports
    * them: duplicates, plus re-deliveries behind the watermark. */
  var dupDropped = 0L

  private val deduped = Streaming.dedupStream(
    Ingest.ingestStream(spark, landing.toString).filter(!col("is_rescued")),
    "event_id")
  private val merge = Streaming.defaultGoldWriter(gold)

  def batchesLanded: Int = next

  def land(): Unit = {
    require(next < batches.size, "staged landing batches exhausted")
    val src = batches(next)
    Files.list(src).iterator().asScala.toSeq.sortBy(_.toString).foreach { f =>
      landedBytes += Files.size(f)
      Files.move(f, landing.resolve(s"b${next}_${f.getFileName}"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    next += 1
  }

  def commit(): Unit = {
    val query = deduped.writeStream.outputMode("update")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        tracer.span("Streaming.gold_merge")(merge(b, id))
        mergeSecs += (System.nanoTime() - t0) / 1e9
        goldBytes += dirBytes(Paths.get(gold))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    query.awaitTermination()
    for (p <- query.recentProgress; o <- p.stateOperators) {
      val dups = o.customMetrics.get("numDroppedDuplicateRows")
      dupDropped += o.numRowsDroppedByWatermark + (if (dups == null) 0L else dups.longValue)
    }
  }

  /** Gold rows as user_id → (total_value, events_count). */
  def goldTotals(): Map[Long, (Double, Long)] =
    spark.read.parquet(gold).collect().map { r =>
      r.getLong(0) -> (r.getDouble(1), r.getLong(2))
    }.toMap

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum
}
