package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.marex._

/** One benchmark workload. The harness calls `generate` (repeatable: it
  * replaces the previous inputs), `warmUp` once, then `op` in a closed
  * loop, then `finish` for end-of-run checks. Failures from `warmUp` and
  * `finish` are check messages; a thrown exception aborts the run. */
trait Workload {
  def generate(): Unit
  def warmUp(): Seq[String]
  def op(i: Int, tr: Tracer): Outcome
  /** Largest number of operations a run can make (inputs are finite). */
  def maxOps: Int = Int.MaxValue
  def finish(tr: Tracer): Seq[String]
  /** Per-layer values that are not span counters, by metric name. */
  def layerValues: Map[String, Double]
}

object Workloads {
  val Names = Seq("archive-detect", "daily-append", "track-merge")

  def apply(name: String, spark: SparkSession, seed: Long, work: File): Workload = name match {
    case "archive-detect" => new ArchiveDetect(spark, seed, work)
    case "daily-append" => new DailyAppend(spark, seed)
    case "track-merge" => new TrackMerge(spark, seed)
  }

  private[perfbench] val Epoch0: Long = Timestamp.valueOf("2000-01-01 00:00:00").getTime

  /** Day number since 2000-01-01 of a timestamp column. */
  private[perfbench] def dayOf(c: org.apache.spark.sql.Column) =
    datediff(c, lit("2000-01-01"))

  /** A `Track.track` run's stats as per-layer values. */
  def trackStatValues(stats: Map[String, Long]): Map[String, Double] =
    Seq("n_objects_filtered", "n_events_final", "total_merges")
      .map(k => s"track.$k" -> stats.getOrElse(k, 0L).toDouble).toMap

  /** Total bytes and file count under `dir`. */
  def dirStats(dir: File): (Long, Long) =
    if (dir.isFile) (dir.length, 1L)
    else Option(dir.listFiles).toSeq.flatten.map(dirStats)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}

/** Detect over a chunked Zarr v2 archive: read the SST store, run the
  * hobday histogram-threshold preprocessing, write the extremes field to a
  * store and read it back. Detect and sources do nearly all the work. */
final class ArchiveDetect(spark: SparkSession, seed: Long, work: File) extends Workload {
  import Workloads._
  val Days = 6 * 365
  val Ny = 10
  val Nx = 20
  val Cells: Long = Days.toLong * Ny * Nx
  val cfg = DetectConfig(methodAnomaly = "fixed_baseline", methodExtreme = "hobday_extreme",
    thresholdPercentile = 95, methodPercentile = "approximate", precision = 0.05,
    maxAnomaly = 25)
  private val sstStore = new File(work, "sst.zarr").getPath
  private val extStore = new File(work, "extremes.zarr").getPath
  private var expectedFlagged = -1L
  private var thresholdRows = -1L
  // the last untraced operation's (anomaly, thresholds, extremes), for the
  // end-of-run checks
  private var kept: Option[(DataFrame, DataFrame, DataFrame)] = None

  private def write(df: DataFrame, col0: String, path: String): Unit =
    df.write.format("zarr").option("dims", s"time:$Days,y:$Ny,x:$Nx")
      .option("chunks", s"73,$Ny,$Nx").option("cols", col0)
      .mode("overwrite").save(path)

  // the generator plans a task per day; the store's writer repartitions by
  // chunk, so coalescing the day tasks changes no value written
  def generate(): Unit =
    write(SyntheticData.sstGridded(spark, Days, Ny, Nx, seed = seed)
      .coalesce(spark.sparkContext.defaultParallelism)
      .select(dayOf(col("time")).as("time_idx"), col("y").as("y_idx"),
        col("x").as("x_idx"), col("value").as("sst")), "sst", sstStore)

  def op(i: Int, tr: Tracer): Outcome = tr.span("spark.op") {
    val field = tr.span("sources.scan") {
      val f = spark.read.format("zarr").load(sstStore)
        .select(timestamp_millis(lit(Epoch0) + col("time_idx").cast("long") * 86400000L).as("time"),
          col("y_idx").as("y"), col("x_idx").as("x"), col("sst").as("value"))
      val r = f.agg(count(lit(1)), count(when(isnan(col("value")) || col("value").isNull, 1)),
        sum("value")).head()
      require(r.getLong(0) == Cells && r.getLong(1) == 0L,
        s"store read ${r.getLong(0)} rows, ${r.getLong(1)} non-finite; expected $Cells finite")
      f
    }
    val ext =
      if (!tr.enabled) {
        val (anom, thr, ext) = Detect.preprocess(field, cfg)
        kept = Some((anom, thr, ext))
        ext
      } else {
        // the public steps `preprocess` composes, one span each, with a
        // checkpoint at each boundary so each span holds its own work
        val anom = tr.span("detect.anomaly")(Detect.fixedBaselineAnomaly(field).localCheckpoint())
        val thr = tr.span("detect.threshold")(Detect.hobdayThreshold(anom,
          cfg.thresholdPercentile / 100.0, cfg.windowDaysHobday, exact = false,
          precision = cfg.precision, maxAnomaly = cfg.maxAnomaly).localCheckpoint())
        tr.span("detect.apply")(Detect.applyThreshold(anom, thr).localCheckpoint())
      }
    tr.span("sources.write")(write(ext.select(dayOf(col("time")).as("time_idx"),
      col("y").as("y_idx"), col("x").as("x_idx"),
      col("extreme").cast("double").as("extreme")), "extreme", extStore))
    val flagged = tr.span("sources.readback") {
      spark.read.format("zarr").load(extStore).filter(col("extreme") === 1.0).count()
    }
    Outcome(Cells, () => {
      val frac = flagged.toDouble / Cells
      if (expectedFlagged >= 0 && flagged != expectedFlagged)
        Some(s"read back $flagged flags, $expectedFlagged in memory")
      else if (frac < 0.03 || frac > 0.08) Some(f"flagged fraction $frac%.4f outside [0.03, 0.08]")
      else None
    })
  }

  /** Two untraced operations, so the timed ones run on compiled code. The
    * first one's extremes give the flag count every later operation must
    * read back. */
  def warmUp(): Seq[String] = {
    val off = new Tracer(spark.sparkContext, enabled = false)
    val first = op(-2, off)
    expectedFlagged = kept.get._3.filter(col("extreme")).count()
    kept = None
    val second = op(-1, off)
    kept = None
    (first.check() ++ second.check()).toSeq
  }

  /** Checks on the last untraced operation's in-memory frames: the
    * threshold table's shape, and the histogram thresholds against the
    * exact kernel. */
  def finish(tr: Tracer): Seq[String] = kept.fold(Seq("no untraced operation completed")) {
    case (anom, thr, _) =>
      kept = None
      val exact = Detect.hobdayThresholdKernel(anom, cfg.thresholdPercentile / 100.0,
        cfg.windowDaysHobday).withColumnRenamed("threshold", "exact")
      // one pass: per pixel, the doys each table covers and the summed |diff|
      val r = thr.join(exact, Seq("y", "x", "doy"), "full_outer")
        .groupBy("y", "x")
        .agg(count("threshold").as("n"), count("exact").as("ne"),
          count(col("threshold") + col("exact")).as("both"),
          sum(abs(col("threshold") - col("exact"))).as("diff"))
        .agg(count(lit(1)), min("n"), sum("n"), sum("ne"), sum("both"), sum("diff")).head()
      val (pixels, minDoys) = (r.getLong(0), r.getLong(1))
      thresholdRows = r.getLong(2)
      val meanDiff = r.getDouble(5) / r.getLong(4)
      Seq(
        if (pixels != Ny * Nx || minDoys < 365)
          Some(s"threshold table has $pixels pixels, min $minDoys doys; " +
            s"expected ${Ny * Nx} pixels with >= 365 doys each")
        else None,
        if (r.getLong(3) != thresholdRows || r.getLong(4) != thresholdRows)
          Some(s"exact kernel has ${r.getLong(3)} rows, ${r.getLong(4)} shared with the " +
            s"$thresholdRows histogram threshold rows")
        else None,
        if (!(meanDiff < cfg.precision))
          Some(s"mean |histogram - exact| threshold $meanDiff >= bin width ${cfg.precision}")
        else None).flatten
  }

  def layerValues: Map[String, Double] = {
    val (bytes, files) = dirStats(new File(sstStore))
    Map("sources.store_mb" -> bytes / 1e6, "sources.files" -> files.toDouble,
      "detect.flagged" -> expectedFlagged.toDouble,
      "detect.threshold_rows" -> thresholdRows.toDouble)
  }
}

/** Storm-flag field shared by the two tracking workloads. */
private[perfbench] final class StormField(spark: SparkSession, val days: Int,
    val ny: Int, val nx: Int, storms: Int, seed: Long) {
  val spec = GridSpec(ny = ny, nx = nx, periodicX = true)
  var flags: DataFrame = _
  var geom: DataFrame = _

  def generate(): Unit = {
    Option(flags).foreach(_.unpersist())
    Option(geom).foreach(_.unpersist())
    flags = SyntheticData.stormFlags(spark, days, ny, nx, storms, seed)
      .coalesce(spark.sparkContext.defaultParallelism).localCheckpoint()
    geom = SyntheticData.geometry(spark, ny, nx).localCheckpoint()
  }

  def daysIn(from: Int, until: Int): DataFrame =
    flags.filter(Workloads.dayOf(col("time")).between(from, until - 1))

  /** Raster cells of `n` days: the input size, independent of the seed. */
  def cells(n: Int): Long = n.toLong * ny * nx
}

/** Daily ingest: bootstrap the incremental tracker over days
  * [`FirstDay`, `FirstDay + BootDays`) of storm flags (non-merging), then
  * append one day per operation. Many small tracker calls, plus the
  * checkpoints they leave behind. The bootstrap is short, which keeps the
  * end-of-run batch check short, and ends on day 30, so the appended days
  * fall where storms born over the whole field are active on every seed. */
final class DailyAppend(spark: SparkSession, seed: Long) extends Workload {
  import Workloads._
  val FirstDay = 24
  val BootDays = 6
  val WarmAppends = 2
  val field = new StormField(spark, 60, 90, 180, storms = 30, seed)
  val cfg = TrackConfig(rFill = 2, tFill = 0, areaFilterAbsolute = Some(100.0),
    dropSmallestObject = false, allowMerging = false)
  private var state: IncrementalTracker.IncState = _
  private var nextDay = 0
  private var firstAppendCells = -1L
  private var stats = Map.empty[String, Long]
  // the accumulated labeling, remaps applied: (day, y, x) -> event id
  private val acc = mutable.HashMap[(Int, Int, Int), Long]()

  override def maxOps: Int = field.days - (FirstDay + BootDays + WarmAppends)

  def generate(): Unit = field.generate()

  /** Append the next day and fold its labels and remaps into `acc`;
    * returns the number of cells the day labeled. */
  private def append(): Long = {
    val (st, inc) = IncrementalTracker.extend(Option(state), field.daysIn(nextDay, nextDay + 1),
      field.geom, field.spec, cfg)
    state = st
    nextDay += 1
    absorb(inc)
  }

  private def absorb(inc: IncrementalTracker.Increment): Long = {
    val remap = inc.remap.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cells = inc.blockIds.select(Workloads.dayOf(col("time")), col("y"), col("x"),
      col("event_id")).collect()
    if (remap.nonEmpty) acc.mapValuesInPlace((_, id) => remap.getOrElse(id, id))
    cells.foreach(r => acc((r.getInt(0), r.getInt(1), r.getInt(2))) = r.getLong(3))
    cells.length.toLong
  }

  /** The bootstrap, then untimed appends: appends still speed up over the
    * first few calls, and a run times only a few of them. */
  def warmUp(): Seq[String] = {
    acc.clear()
    val (st, inc) = IncrementalTracker.extend(None, field.daysIn(FirstDay, FirstDay + BootDays),
      field.geom, field.spec, cfg)
    absorb(inc)
    state = st
    nextDay = FirstDay + BootDays
    (1 to WarmAppends).foreach(_ => append())
    Nil
  }

  def op(i: Int, tr: Tracer): Outcome = {
    val cells = tr.span("spark.op")(tr.span("incremental.extend")(append()))
    if (i == 0) firstAppendCells = cells
    Outcome(field.cells(1))
  }

  /** The accumulated labeling must be an event-id bijection onto a batch
    * `Track.track` of the same days. */
  def finish(tr: Tracer): Seq[String] = {
    val days = nextDay
    val (res, batch) = tr.span("track.track") {
      val res = Track.track(field.daysIn(FirstDay, days), field.geom, field.spec, cfg)
      (res, res.idField.select(Workloads.dayOf(col("time")), col("y"), col("x"), col("event_id"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)))
    }
    stats = res.stats
    Bijection.check(batch.toMap, acc.toMap).map(m => s"append vs batch over ${days - FirstDay} days: $m").toSeq
  }

  def layerValues: Map[String, Double] = Map(
    "incremental.cells_appended" -> firstAppendCells.toDouble) ++ trackStatValues(stats)
}

/** Batch tracking with split/merge: one `Track.track` call per operation on a
  * small storm field. Little data and many Spark actions, so it isolates
  * per-action orchestration. */
final class TrackMerge(spark: SparkSession, seed: Long) extends Workload {
  import Workloads._
  val field = new StormField(spark, 60, 60, 120, storms = 16, seed)
  val cfg = TrackConfig(rFill = 2, tFill = 2, areaFilterQuartile = 0.5,
    overlapThreshold = 0.25, allowMerging = true)
  private var stats = Map.empty[String, Long]

  def generate(): Unit = field.generate()

  private def track(tr: Tracer): Track.TrackResult = tr.span("track.track") {
    val res = Track.track(field.flags, field.geom, field.spec, cfg)
    res.idField.count()
    res
  }

  def warmUp(): Seq[String] = {
    stats = track(new Tracer(spark.sparkContext, enabled = false)).stats
    Nil
  }

  def op(i: Int, tr: Tracer): Outcome = {
    val res = tr.span("spark.op")(track(tr))
    Outcome(field.cells(field.days), () =>
      if (res.stats != stats) Some(s"stats ${res.stats} differ from the first call's $stats")
      else None)
  }

  def finish(tr: Tracer): Seq[String] = Nil

  def layerValues: Map[String, Double] = trackStatValues(stats)
}

object Bijection {
  /** Two labelings of cells agree when they cover the same cells and their
    * ids correspond one to one. Returns the first disagreement found. */
  def check[K](a: Map[K, Long], b: Map[K, Long]): Option[String] =
    if (a.keySet != b.keySet)
      Some(s"cell sets differ: ${a.size} vs ${b.size} cells, ${(a.keySet diff b.keySet).size} only in the first")
    else {
      val pairs = a.keys.map(k => a(k) -> b(k)).toSet
      val aIds = pairs.map(_._1).size
      val bIds = pairs.map(_._2).size
      if (aIds != pairs.size) Some(s"${pairs.size - aIds} ids of the first labeling map to 2+ ids")
      else if (bIds != pairs.size) Some(s"${pairs.size - bIds} ids of the second labeling map to 2+ ids")
      else None
    }
}
