package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization.write

import graft.Tables
import graft.lake.{FtsIndex, LakeDataset, VectorIndex}
import graft.pipeline.{Ann, Cluster, Dedup}

/** corpus_lake: the planted `documents` and `embeddings` are ingested into
  * two LakeDatasets in batches, then one round runs, in order: minhash and
  * semantic dedup, k-means, IVF training, the PQ vector index and FTS index
  * builds, and the seeded stream of `lake_plan.json` — ANN and FTS searches,
  * pruned scans, point lookups and time-travel reads interleaved with
  * delete, update, mergeInsert and compact on the documents dataset. Every
  * round starts from new, empty datasets; every build and every search is
  * its own timed call.
  *
  * Outputs for the checks go to `lake_steps.jsonl`, one line per step, and
  * a `snapshot` line (version, row count, checksums) after every commit,
  * taken outside the timed call. Each timed call runs under its own Spark
  * job group and the group is cleared after it, so the per-layer `spark.*`
  * figures hold the operations' jobs only, not set-up or check jobs. */
object LakeRun {
  private implicit val formats: Formats = DefaultFormats

  private val checksum = Seq(count(lit(1)).as("n"), sum("doc_id").as("sum_id"),
    sum("n_chars").as("sum_chars"), sum(length(col("lang"))).as("sum_lang"),
    sum(length(col("text"))).as("sum_text"))

  private def sums(df: DataFrame): Seq[Any] = {
    val r = df.agg(checksum.head, checksum.tail: _*).head()
    (0 until 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  def apply(c: Ctx): WorkResult = {
    val plan = JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(c.data, "lake_plan.json")), "UTF-8"))
    val batches = (plan \ "batches").extract[Int]
    val nDocs = (plan \ "n_docs").extract[Long]
    val nVecs = (plan \ "n_vecs").extract[Long]
    val compactRows = (plan \ "compact_rows").extract[Long]
    val stream = (plan \ "stream").children
    val root = c.out.resolve("lake").toAbsolutePath
    // set-up: a fresh session with the input tables registered and the two
    // empty datasets created
    val setups = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val s = c.spark.newSession()
      c.trace.span("tables.load")(Tables.register(s, c.data))
      LakeDataset.create(s, s"$root/setup$i/docs", s.table("documents").schema)
      LakeDataset.create(s, s"$root/setup$i/vecs", s.table("embeddings").schema)
      ((System.nanoTime() - t0) / 1e9, s)
    }
    val s = setups.last._2
    val docsIn = s.table("documents")
    val vecsIn = s.table("embeddings")
    def field(st: JValue, k: String): String = (st \ k) match {
      case JString(v) => v
      case JInt(v) => v.toString
      case JLong(v) => v.toString
      case v => throw new IllegalArgumentException(s"lake_plan field $k: $v")
    }
    val queryIds = stream.filter(field(_, "op") == "ann").map(field(_, "vec_id").toLong).distinct
    val queryVecs: Map[Long, Seq[Float]] = vecsIn.filter(col("vec_id").isin(queryIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

    val lines = mutable.ArrayBuffer.empty[String]
    val pins = mutable.ArrayBuffer.empty[Double]
    val prune = mutable.ArrayBuffer.empty[(Int, Int)]
    val opGroups = mutable.Set.empty[String]
    val commitGroups = mutable.ArrayBuffer.empty[String]
    var opSeq = 0

    def op[T](round: Int, kind: String, name: String)(f: => T): Option[T] = {
      opSeq += 1
      val group = s"$name#$round#$opSeq"
      s.sparkContext.setJobGroup(group, name)
      val r = c.ops.time(kind, name, round)(f)
      s.sparkContext.clearJobGroup()
      opGroups += group
      if (kind == "commit") commitGroups += group
      if (c.trace.on) pins += c.pinsOpen.toDouble
      r
    }
    def emit(fields: (String, Any)*): Unit = lines += write(fields.toMap)

    val walls = c.rounds { round =>
      val docsPath = s"$root/r$round/docs"
      val vecsPath = s"$root/r$round/vecs"
      val docs = LakeDataset.create(s, docsPath, docsIn.schema)
      val vecs = LakeDataset.create(s, vecsPath, vecsIn.schema)
      val versions = mutable.Map.empty[Int, Long]
      def snapshot(step: Int): Unit = {
        versions(step) = docs.version
        emit("round" -> round, "step" -> step, "op" -> "snapshot",
          "version" -> docs.version, "sums" -> sums(docs.read()))
      }

      (0 until batches).foreach { b =>
        val lo = nDocs * b / batches
        val hi = nDocs * (b + 1) / batches
        op(round, "commit", "append_docs")(
          docs.append(docsIn.filter(col("doc_id") >= lo && col("doc_id") < hi)))
        val vlo = nVecs * b / batches
        val vhi = nVecs * (b + 1) / batches
        op(round, "commit", "append_vecs")(
          vecs.append(vecsIn.filter(col("vec_id") >= vlo && col("vec_id") < vhi)))
      }
      snapshot(-1)

      val pairs = op(round, "pipeline", "minhash_dedup")(
        Dedup.minhashDedup(docs.read().select("doc_id", "text"), 0.8)
          .select("doc_a", "doc_b").collect())
      emit("round" -> round, "op" -> "minhash_dedup", "ok" -> pairs.isDefined,
        "pairs" -> pairs.fold(Seq.empty[Seq[Long]])(_.toSeq.map(r => Seq(r.getLong(0), r.getLong(1)))))
      val sem = op(round, "pipeline", "semantic_dedup")(
        Ann.semantic.run(s, c.data).collect())
      emit("round" -> round, "op" -> "semantic_dedup", "ok" -> sem.isDefined,
        "rows" -> sem.fold(Seq.empty[Seq[Any]])(_.toSeq.map(r => Seq(r.getLong(0), r.getLong(1), r.getBoolean(2)))))
      val e = vecs.read().select("vec_id", "embedding")
      val km = op(round, "pipeline", "kmeans") {
        val (a, _) = Cluster.kmeans(s, e, iters = 3)
        a.select("vec_id", "cluster").collect()
      }
      emit("round" -> round, "op" -> "kmeans", "ok" -> km.isDefined,
        "rows" -> km.fold(Seq.empty[Seq[Any]])(_.toSeq.map(r => Seq(r.getLong(0), r.getInt(1)))))
      val ivf = op(round, "pipeline", "ivf_train") {
        val (a, cents) = Ann.trainIvf(e)
        (a.select("vec_id", "cluster").collect(), cents.select("cluster", "centroid").collect())
      }
      emit("round" -> round, "op" -> "ivf_train", "ok" -> ivf.isDefined,
        "assign" -> ivf.fold(Seq.empty[Seq[Any]])(_._1.toSeq.map(r => Seq(r.getLong(0), r.getInt(1)))),
        "centroids" -> ivf.fold(Seq.empty[Seq[Any]])(_._2.toSeq.map(r => Seq(r.getInt(0), r.getSeq[Float](1)))))
      val vb = op(round, "index", "vector_index_build")(
        VectorIndex.build(vecs, "embedding", quantizer = "pq"))
      val fb = op(round, "index", "fts_index_build")(FtsIndex.build(docs, "text"))
      emit("round" -> round, "op" -> "index_build", "ok" -> (vb.isDefined && fb.isDefined),
        "fts_version" -> docs.version)

      stream.zipWithIndex.foreach { case (st, step) =>
        val name = field(st, "op")
        def out(ok: Boolean, fields: (String, Any)*): Unit =
          emit((Seq("round" -> round, "step" -> step, "op" -> name, "ok" -> ok) ++ fields): _*)
        def open() = c.trace.span("lake.open")(LakeDataset.open(s, docsPath))
        name match {
          case "ann" =>
            val q = field(st, "vec_id").toLong
            val r = op(round, "search", "ann_search")(
              VectorIndex.search(vecs, "embedding", queryVecs(q), 10)
                .select("vec_id", "similarity").collect())
            out(r.isDefined, "vec_id" -> q,
              "hits" -> r.fold(Seq.empty[Seq[Any]])(_.toSeq.map(x => Seq(x.getLong(0), x.getDouble(1)))))
          case "fts" =>
            val terms = (st \ "terms").extract[Seq[String]]
            val r = op(round, "search", "fts_search")(
              FtsIndex.search(docs, terms, 10).select("doc_id", "score").collect())
            out(r.isDefined, "terms" -> terms,
              "hits" -> r.fold(Seq.empty[Seq[Any]])(_.toSeq.map(x => Seq(x.getLong(0), x.getDouble(1)))))
          case "scan" =>
            val pred = field(st, "pred")
            val r = op(round, "read", "pruned_scan") {
              val ds = open()
              if (c.trace.on)
                prune += ((ds.pruneFragments(ds.manifest, pred).size, ds.manifest.fragments.size))
              sums(ds.scanner().withFilter(pred).build())
            }
            out(r.isDefined, "pred" -> pred, "sums" -> r.getOrElse(Nil))
          case "lookup" =>
            val id = field(st, "doc_id").toLong
            val r = op(round, "read", "point_lookup")(
              open().scanner().withFilter(s"doc_id = $id").build()
                .select(col("doc_id"), col("n_chars"), col("lang"), length(col("text")))
                .collect())
            out(r.isDefined, "doc_id" -> id,
              "rows" -> r.fold(Seq.empty[Seq[Any]])(_.toSeq.map(Main.cells)))
          case "timetravel" =>
            val at = field(st, "at").toInt
            val v = versions(at)
            val r = op(round, "read", "time_travel")(sums(docs.readVersion(v)))
            out(r.isDefined, "at" -> at, "sums" -> r.getOrElse(Nil))
          case "delete" =>
            val pred = field(st, "pred")
            val r = op(round, "commit", "delete")(docs.delete(pred))
            out(r.isDefined, "pred" -> pred, "count" -> r.map(Long.box).orNull)
            snapshot(step)
          case "update" =>
            val pred = field(st, "pred")
            val r = op(round, "commit", "update")(
              docs.update(pred, Map("n_chars" -> "n_chars + 1000")))
            out(r.isDefined, "pred" -> pred, "count" -> r.map(Long.box).orNull)
            snapshot(step)
          case "merge" =>
            val lo = field(st, "lo").toLong
            val hi = field(st, "hi").toLong
            val add = field(st, "new").toLong
            val src = docsIn.filter(col("doc_id") >= lo && col("doc_id") < hi)
              .withColumn("n_chars", col("n_chars") + 7).withColumn("lang", lit("upd"))
              .unionByName(docsIn.filter(col("doc_id") < add)
                .withColumn("doc_id", col("doc_id") + 100000000L))
            val r = op(round, "commit", "merge")(docs.mergeInsert(src, Seq("doc_id")))
            out(r.isDefined, "matched" -> r.map(x => Long.box(x._1)).orNull,
              "inserted" -> r.map(x => Long.box(x._2)).orNull)
            snapshot(step)
          case "compact" =>
            val r = op(round, "commit", "compact")(docs.compact(compactRows))
            out(r.isDefined)
            snapshot(step)
        }
      }
    }
    c.writeLines("lake_steps.jsonl", lines)

    val layers =
      if (!c.trace.on) Map.empty[String, Double]
      else {
        val opTotals = c.sparkTotals(opGroups.contains)
        val byGroup = c.listener.get.byGroup
        val (files, bytes, manifest) = diskUse(root)
        val rounds = walls.size.toDouble
        Map(
          "lake.jobs_per_commit" -> commitGroups.map(g => byGroup.get(g).fold(0L)(_.jobs)).sum
            .toDouble / commitGroups.size,
          "lake.open_s" -> Stats.median(c.trace.durations("lake.open")),
          "lake.fragments_total" -> prune.map(_._2).sum.toDouble / prune.size,
          "lake.fragments_scanned" -> prune.map(_._1).sum.toDouble / prune.size,
          "lake.prune_kept_ratio" -> prune.map(_._1).sum.toDouble / prune.map(_._2).sum,
          "lake.bytes_written" -> bytes / rounds,
          "lake.files_written" -> files / rounds,
          "lake.manifest_bytes" -> manifest / rounds,
          "materialize.pins_open" -> (if (pins.isEmpty) 0.0 else pins.sum / pins.size),
          "tables.load_s" -> Stats.median(c.trace.durations("tables.load"))) ++
          opTotals.map { case (k, v) => k -> v / c.ops.recs.size }
      }
    WorkResult(setups.map(_._1), walls, layers)
  }

  /** (files, bytes, manifest bytes) under the round datasets. */
  private def diskUse(root: Path): (Double, Double, Double) = {
    var files, bytes, manifest = 0.0
    if (Files.exists(root)) Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (Files.isRegularFile(p) && rel.startsWith("r")) {
        val n = Files.size(p).toDouble
        files += 1; bytes += n
        if (rel.contains("_manifests")) manifest += n
      }
    }
    (files, bytes, manifest)
  }
}
