package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization.write

import graft.Tables
import graft.server.{WireClient, WireServer}

/** wire_short: one in-process `WireServer` over the generated views and four
  * closed-loop psql clients, one per core. Each client runs its seeded list
  * of `wire_plan.json` per round: parameterised point lookups over the
  * extended protocol, small GROUP BYs and catalog queries over the simple
  * protocol. A round ends when every client has finished its list; one
  * untimed round warms the JVM first. Traced
  * runs also replay one round in-process (`spark.sql(...).collect()` on the
  * server's session, four threads) as `server.exec_ms`. */
object WireRun {
  private implicit val formats: Formats = DefaultFormats

  final case class Stmt(kind: String, sql: String, params: Seq[(Int, String)])

  def apply(c: Ctx): WorkResult = {
    val plan = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(c.data, "wire_plan.json")), "UTF-8"))
    val clients: Seq[Seq[Stmt]] = (plan \ "clients").children.map(_.children.map { j =>
      Stmt((j \ "kind").extract[String], (j \ "sql").extract[String],
        (j \ "params").extract[Seq[Seq[String]]].map(p => (p.head.toInt, p(1))))
    })

    val connectMs = mutable.ArrayBuffer.empty[Double]
    def connect(port: Int): WireClient.Conn = {
      val t0 = System.nanoTime()
      val conn = new WireClient.Conn("127.0.0.1", port)
      connectMs.synchronized { connectMs += (System.nanoTime() - t0) / 1e6 }
      conn
    }
    def start() = {
      val s = c.spark.newSession()
      val server = new WireServer(s, 0,
        x => c.trace.span("tables.load")(Tables.register(x, c.data)))
      (s, server)
    }
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val (s, server) = start()
      connect(server.boundPort).close()
      val t = (System.nanoTime() - t0) / 1e9
      if (i < 3) { server.close(); (t, None) } else (t, Some((s, server)))
    }
    val (session, server) = setups.last._2.get
    val conns = clients.map(_ => connect(server.boundPort))

    def exec(conn: WireClient.Conn, st: Stmt): Seq[Seq[Option[String]]] =
      (if (st.params.nonEmpty)
        conn.queryExtended(st.sql, st.params.map { case (oid, v) => (oid, Some(v)) })
      else conn.query(st.sql).last).rows

    /** Runs one round on `clients.size` threads; `body(client, index)`. */
    def parallel(body: (Int, Int) => Unit): Unit = {
      val threads = clients.indices.map { ci =>
        new Thread(() => clients(ci).indices.foreach(i => body(ci, i)))
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }

    // untimed warm-up round: JIT and codegen for every statement shape
    parallel((ci, i) => try exec(conns(ci), clients(ci)(i)) catch {
      case scala.util.control.NonFatal(_) => Nil
    })
    val base = c.sparkTotals()
    val results = mutable.ArrayBuffer.empty[String]
    val walls = c.rounds { round =>
      parallel { (ci, i) =>
        val st = clients(ci)(i)
        val rows = c.ops.time(st.kind, st.kind, round)(exec(conns(ci), st))
        val line = write(Map("client" -> ci, "index" -> i, "round" -> round,
          "ok" -> rows.isDefined, "rows" -> rows.getOrElse(Nil).map(_.map(_.orNull))))
        results.synchronized { results += line }
      }
    }
    c.writeLines("wire_results.jsonl", results)
    val totals = c.sparkTotals()

    val layers =
      if (!c.trace.on) Map.empty[String, Double]
      else {
        val stmtMs = c.ops.recs.map(_.seconds * 1e3).toSeq
        val execMs = mutable.ArrayBuffer.empty[Double]
        parallel { (ci, i) =>
          val st = clients(ci)(i)
          val sql = st.params.zipWithIndex.foldRight(st.sql) { case (((_, v), k), q) =>
            q.replace(s"$$${k + 1}", v)
          }
          val t0 = System.nanoTime()
          session.sql(sql).collect()
          execMs.synchronized { execMs += (System.nanoTime() - t0) / 1e6 }
        }
        val stmt = Stats.median(stmtMs)
        val execP50 = Stats.median(execMs.toSeq)
        Map("server.connect_ms" -> Stats.median(connectMs.toSeq),
          "server.stmt_ms" -> stmt, "server.exec_ms" -> execP50,
          "server.protocol_ms" -> (stmt - execP50),
          "tables.load_s" -> Stats.median(c.trace.durations("tables.load")),
          "materialize.pins_open" -> c.pinsOpen.toDouble) ++
          totals.map { case (k, v) => k -> (v - base.getOrElse(k, 0.0)) / stmtMs.size }
      }
    conns.foreach(_.close())
    server.close()
    WorkResult(setups.map(_._1), walls, layers)
  }
}
