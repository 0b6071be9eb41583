package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization.write

import graft.Tables
import graft.queries.{Tpch, TpchMore}

/** tpch: one client runs the 24 TPC-H-shaped queries of `Tpch` and
  * `TpchMore` serially, a closed loop of whole passes. Each query is timed
  * from `Q.run` through `collect()`, so the rows checked are the rows
  * timed. Traced runs split each query into `queries.build` (Q.run),
  * `catalyst.plan` (forcing `executedPlan`) and `exec` (collect). */
object TpchRun {
  val queries = Tpch.all ++ TpchMore.all
  private implicit val formats: Formats = DefaultFormats

  def apply(c: Ctx): WorkResult = {
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val s = c.spark.newSession()
      c.trace.span("tables.load")(Tables.register(s, c.data))
      ((System.nanoTime() - t0) / 1e9, s)
    }
    val s = setups.last._2
    val loadS = c.trace.durations("tables.load")

    def run(df: => DataFrame): (Seq[String], Array[Row]) = {
      val d = c.trace.span("queries.build")(df)
      c.trace.span("catalyst.plan")(d.queryExecution.executedPlan)
      (d.columns.toSeq, c.trace.span("exec")(d.collect()))
    }
    // Untimed warm-up (JIT, codegen, page cache): every query once, spread
    // over one thread per core. Each query is latency-bound at this scale,
    // so the concurrent pass warms the same code in a fraction of the time.
    val cores = Runtime.getRuntime.availableProcessors()
    val warmers = (0 until cores).map { t =>
      new Thread(() => queries.indices.filter(_ % cores == t).foreach { i =>
        try run(queries(i).run(s, c.data)) catch { case scala.util.control.NonFatal(_) => () }
      })
    }
    warmers.foreach(_.start())
    warmers.foreach(_.join())
    val warm = c.sparkTotals()
    val phaseBase = Seq("queries.build", "catalyst.plan", "exec")
      .map(n => n -> c.trace.durations(n).size).toMap

    val results = mutable.ArrayBuffer.empty[String]
    val walls = c.rounds { round =>
      queries.foreach { q =>
        s.sparkContext.setJobGroup(s"${q.name}#$round", q.name)
        val res = c.ops.time("query", q.name, round)(run(q.run(s, c.data)))
        results += write(Map("name" -> q.name, "round" -> round,
          "ok" -> res.isDefined, "columns" -> res.fold(Seq.empty[String])(_._1),
          "rows" -> res.fold(Seq.empty[Seq[Any]])(_._2.toSeq.map(Main.cells))))
      }
    }
    s.sparkContext.clearJobGroup()
    c.writeLines("tpch_results.jsonl", results)
    c.writeLines("tpch_oracles.json", Seq(write(queries.map(q => q.name -> q.oracle.get).toMap)))

    val layers =
      if (!c.trace.on) Map.empty[String, Double]
      else {
        val n = c.ops.recs.size.toDouble
        val phases = phaseBase.map { case (name, skip) =>
          s"${name}_s" ->
            c.trace.durations(name).drop(skip).sum / n
        }
        val spark = c.sparkTotals().map { case (k, v) => k -> (v - warm.getOrElse(k, 0.0)) / n }
        phases ++ spark ++ Map("tables.load_s" -> Stats.median(loadS),
          "materialize.pins_open" -> c.pinsOpen.toDouble)
      }
    WorkResult(setups.map(_._1), walls, layers)
  }
}
