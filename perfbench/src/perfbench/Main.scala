package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** What a workload hands back: its set-up samples, the wall time of each
  * whole round, and (traced runs) its per-layer metrics. Operation records
  * live in [[Ctx.ops]]; outputs to check are files under [[Ctx.out]]. */
final case class WorkResult(setupSeconds: Seq[Double],
    roundSeconds: Seq[Double], layers: Map[String, Double])

final case class Ctx(spark: SparkSession, data: String, out: Path,
    seconds: Double, trace: Trace, ops: Ops, listener: Option[SparkTotals]) {

  /** Wait for listener delivery, then read the Spark totals of the job
    * groups `keep` accepts (all by default). */
  def sparkTotals(keep: String => Boolean = _ => true): Map[String, Double] =
    listener.fold(Map.empty[String, Double]) { l =>
      org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
      l.total(keep)
    }

  /** Persistent RDDs the session still holds (open `Materialize` pins). */
  def pinsOpen: Int = spark.sparkContext.getPersistentRDDs.size

  /** Run rounds until the next one would end past `seconds` (at least one).
    * Returns the wall time of each round. */
  def rounds(round: Int => Unit): Seq[Double] = {
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (walls.isEmpty || elapsed + walls.sum / walls.size <= seconds) {
      val t0 = System.nanoTime()
      round(walls.size)
      walls += (System.nanoTime() - t0) / 1e9
    }
    walls.toSeq
  }

  def writeLines(name: String, lines: Iterable[String]): Unit =
    Files.write(out.resolve(name), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
}

/** Benchmark JVM entry point. Usage:
  * {{{
  * perfbench.Main --workload <tpch|corpus_lake|wire_short> --data <dir>
  *   --out <dir> --seconds <s> --trace <0|1>
  * }}}
  * Writes `jvm.json` (set-up samples, round walls, every operation record,
  * per-layer metrics, retained heap) and the workload's outputs to `--out`;
  * `perfbench/run.py` checks those outputs and prints the result line. */
object Main {
  /** The session settings of `graft.Bench`: local[nproc] with as many
    * shuffle partitions as cores and 16 MB file splits. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val traced = opt.getOrElse("trace", "0") == "1"
    val spark = session()
    val trace = new Trace(traced)
    val ctx = Ctx(spark, opt("data"), out, opt("seconds").toDouble, trace,
      new Ops(trace), SparkTotals.install(spark, traced))
    val res = opt("workload") match {
      case "tpch" => TpchRun(ctx)
      case "corpus_lake" => LakeRun(ctx)
      case "wire_short" => WireRun(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    implicit val formats: Formats = DefaultFormats
    Files.writeString(out.resolve("jvm.json"), Serialization.write(Map(
      "setup_s" -> res.setupSeconds,
      "round_s" -> res.roundSeconds,
      "ops" -> ctx.ops.toJson,
      "layers" -> (res.layers ++
        (if (traced) Map("jvm.peak_rss_mb" -> peakRssMb()) else Map.empty)),
      "retained_heap_mb" -> retainedHeapMb())))
    if (traced) ctx.trace.writeJsonLines(out.resolve("spans.jsonl"))
    // every output is written; skip the orderly SparkContext shutdown (about
    // a second per run) — its temporary files live in the run's directory,
    // which perfbench/run.py removes
    Runtime.getRuntime.halt(0)
  }

  /** Heap still in use after a full collection at the end of the workload:
    * what the session keeps (pins, broadcast blocks, caches, memos). Peak
    * RSS follows the collector's heap sizing more than the program and
    * spread by a quarter between runs of one commit, so it is a per-layer
    * figure only. */
  def retainedHeapMb(): Double = {
    // the second collection frees what the ContextCleaner released after
    // the first (broadcast blocks, unreferenced checkpoints)
    System.gc()
    Thread.sleep(500)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  /** High-water resident set of this JVM, from /proc/self/status. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** A result row as JSON-ready cells: dates and timestamps as text,
    * decimals as doubles. */
  def cells(r: Row): Seq[Any] = r.toSeq.map {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => t.toString
    case s: scala.collection.Seq[_] => s.toSeq
    case v => v
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
