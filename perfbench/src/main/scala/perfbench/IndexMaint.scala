package perfbench

import graft.Tables
import graft.index.FoldProtocol
import graft.operators.{Dedup, Retrieval, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.file.Path
import scala.collection.mutable
import scala.util.Random

/** `index_maint`: index writes beside reads, one caller (closed loop).
  *
  * Set-up builds a BM25, an IVF and a dedup index from a seeded half of
  * `documents` / `embeddings`. Each round then folds the next seeded
  * batch of the other half into all three (`appendToBm25Index`,
  * `appendToIvfIndex`, `Dedup.appendToIndex`) and serves `bm25TopK` and
  * `indexTopK` from the grown indexes. After the timed window every
  * kind gets one vacuum, one delete and one compaction, and an untimed
  * pass checks both serves against a brute-force recomputation over the
  * live documents.
  */
object IndexMaint {
  val Setups = 2
  val WarmRounds = 1
  val Batches = 40
  val DeletedDocs = 20
  val QueryVectors = 20
  val Kinds = Seq("bm25", "ivf", "dedup")

  private final case class Roots(bm25: String, ivf: String, dedup: String)

  private def protocols(r: Roots) = Seq(
    ("bm25", new FoldProtocol(r.bm25, "_postings_ledger"), Seq("postings", "stats")),
    ("ivf", new FoldProtocol(r.ivf, "_vec_ledger"), Seq("vectors")),
    ("dedup", new FoldProtocol(r.dedup, "df/_ledger"), Seq("shingles", "hashes")))

  /** Seeded split of `ids` into a seed half and `Batches` equal
    * batches of the other half.
    */
  private def split(ids: Seq[Long], rnd: Random)
      : (Seq[Long], IndexedSeq[Seq[Long]]) = {
    val (seedHalf, rest) = rnd.shuffle(ids).splitAt(ids.size / 2)
    (seedHalf, rest.grouped(math.max(1, rest.size / Batches)).toIndexedSeq)
  }

  def run(spark: SparkSession, seed: Long, seconds: Double,
      work: Path): Outcome = {
    val data = work.resolve("data").toString
    val docs = Tables.documents(spark, data).select("doc_id", "text")
    val vecs = Tables.embeddings(spark, data)
      .select(col("vec_id"), col("embedding").as("v"))
    val rnd = new Random(seed)
    val (seedDocs, docBatches) =
      split(docs.select("doc_id").collect().map(_.getLong(0)).toSeq, rnd)
    val (seedVecs, vecBatches) =
      split(vecs.select("vec_id").collect().map(_.getLong(0)).toSeq, rnd)
    def docsOf(ids: Seq[Long]): DataFrame = docs.filter(col("doc_id").isin(ids: _*))
    def vecsOf(ids: Seq[Long]): DataFrame = vecs.filter(col("vec_id").isin(ids: _*))
    val queryIds = seedVecs.take(QueryVectors)
    val queries = vecsOf(queryIds).select(col("vec_id").as("query_id"),
      col("v").as("qv"))

    val setupTimes = (1 to Setups).map { i =>
      val r = roots(work, i)
      val t0 = System.nanoTime()
      Trace.span("setup") {
        Retrieval.writeBm25Index(docsOf(seedDocs), r.bm25)
        Similarity.writeIvfIndex(vecsOf(seedVecs), r.ivf)
        Dedup.writeIndex(docsOf(seedDocs), r.dedup)
      }
      Log(f"setup $i: ${Stats.seconds(t0)}%.3f s")
      Stats.seconds(t0)
    }
    val r = roots(work, Setups)

    val opTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def timed[T](op: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = Trace.span(op)(body)
      opTimes.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += Stats.seconds(t0)
      out
    }
    def serve(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    var next = 0
    def round(): Double = {
      val b = next
      next += 1
      val id = (b + 1).toLong
      val t0 = System.nanoTime()
      timed("fold.bm25.append")(Retrieval.appendToBm25Index(docsOf(docBatches(b)), r.bm25, id))
      timed("fold.ivf.append")(Similarity.appendToIvfIndex(vecsOf(vecBatches(b)), r.ivf, id))
      timed("fold.dedup.append")(Dedup.appendToIndex(docsOf(docBatches(b)), r.dedup, id))
      timed("serve.bm25")(serve(Retrieval.bm25TopK(spark, r.bm25)))
      timed("serve.ivf")(serve(Similarity.indexTopK(spark, r.ivf, queries)))
      val dt = Stats.seconds(t0)
      Log(f"round $id: $dt%.3f s")
      dt
    }

    (1 to WarmRounds).foreach(_ => round())
    opTimes.clear()
    Trace.drainCounters()
    val rounds = mutable.ArrayBuffer.empty[Double]
    val window0 = System.nanoTime()
    while (next < Batches &&
        (rounds.isEmpty || Stats.seconds(window0) < seconds)) rounds += round()
    val engine = Trace.drainCounters()
    val status = protocols(r).map { case (k, p, kinds) =>
      val st = p.describe(kinds: _*)
      k -> (st.foldedBatches.size + st.deletedBatches.size,
        st.committedDirCounts.values.sum, Stats.du(java.nio.file.Paths.get(p.root)))
    }.toMap

    // Maintenance: vacuum the older half of the ledger, delete a seeded
    // sample of live documents (and vectors), then compact.
    val folded = next.toLong
    val floor = math.max(1L, folded / 2)
    timed("fold.bm25.vacuum")(Retrieval.vacuumBm25Index(spark, r.bm25, floor))
    timed("fold.ivf.vacuum")(Similarity.vacuumIvfIndex(spark, r.ivf, floor))
    timed("fold.dedup.vacuum")(Dedup.vacuumDedupIndex(spark, r.dedup, floor))
    val liveDocs0 = seedDocs ++ docBatches.take(next).flatten
    val liveVecs0 = seedVecs ++ vecBatches.take(next).flatten
    val goneDocs = rnd.shuffle(liveDocs0).take(DeletedDocs)
    val goneVecs = rnd.shuffle(liveVecs0.filterNot(queryIds.contains))
      .take(DeletedDocs)
    import spark.implicits._
    val delId = folded + 1
    timed("fold.bm25.delete")(Retrieval.deleteFromBm25Index(
      goneDocs.toDF("doc_id"), r.bm25, delId))
    timed("fold.ivf.delete")(Similarity.deleteFromIvfIndex(
      goneVecs.toDF("vec_id"), r.ivf, delId))
    timed("fold.dedup.delete")(Dedup.deleteFromIndex(
      goneDocs.toDF("doc_id"), r.dedup, delId))
    timed("fold.bm25.compact")(Retrieval.compactBm25Index(spark, r.bm25))
    timed("fold.ivf.compact")(Similarity.compactIvfIndex(spark, r.ivf))
    timed("fold.dedup.compact")(Dedup.compactIndex(spark, r.dedup))

    // Untimed check of both serves against brute force over live docs.
    val liveDocs = liveDocs0.toSet -- goneDocs
    val liveVecs = liveVecs0.toSet -- goneVecs
    val bm25Got = Retrieval.bm25TopK(spark, r.bm25).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val bm25Want = BruteForce.bm25(docs.collect()
      .map(x => (x.getLong(0), x.getString(1))).filter(d => liveDocs(d._1)).toSeq,
      Retrieval.QueryTerms)
    val ivfGot = Similarity.indexTopK(spark, r.ivf, queries).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val cents = spark.read.parquet(s"${r.ivf}/cents").collect()
      .map(x => (x.getAs[Long]("cent_id"), x.getAs[Seq[Double]]("cv").toArray))
    val allVecs = vecs.collect().map(x => (x.getLong(0), x.getSeq[Float](1).toArray))
    val ivfWant = BruteForce.ivf(allVecs.filter(v => liveVecs(v._1)).toSeq,
      allVecs.filter(v => queryIds.contains(v._1)).toSeq, cents.toSeq).toSet
    val failed = Seq(bm25Got == bm25Want, ivfGot == ivfWant).count(!_)
    if (failed > 0) Log(s"check failed: bm25 $bm25Got vs $bm25Want; ivf ${ivfGot -- ivfWant} vs ${ivfWant -- ivfGot}")

    val all = opTimes.values.flatten.toSeq
    val items = liveDocs.size + liveVecs.size
    val bytes = Seq(r.bm25, r.ivf, r.dedup)
      .map(p => Stats.du(java.nio.file.Paths.get(p))).sum
    def mean(op: String) = opTimes.get(op).map(t => t.sum / t.size).getOrElse(0.0)
    val perLayer =
      if (!Trace.enabled) Map.empty[String, Double]
      else (Kinds.flatMap { k =>
        val (depth, dirs, onDisk) = status(k)
        Seq("append", "delete", "compact", "vacuum")
          .map(op => s"fold.$k.${op}_s" -> mean(s"fold.$k.$op")) ++ Seq(
          s"fold.$k.ledger_depth" -> depth.toDouble,
          s"fold.$k.committed_dirs" -> dirs.toDouble,
          s"fold.$k.bytes_on_disk" -> onDisk.toDouble)
      } ++ Seq("bm25", "ivf").map(k => s"serve.$k.s" -> mean(s"serve.$k")) ++
        Seq("spark.tasks", "spark.executor_cpu_s", "spark.gc_s")
          .map(k => k -> engine.getOrElse(k, 0.0) / rounds.size)).toMap
    Outcome(
      attempted = all.size + 2L,
      failed = failed.toLong,
      endToEnd = Seq(
        ("setup_s", Stats.median(setupTimes), "s"),
        ("cycle_s", Stats.median(rounds.toSeq), "s"),
        ("op_geomean_s", Stats.geomean(all), "s"),
        ("bytes_per_row", bytes.toDouble / items, "bytes")),
      perLayer = perLayer,
      diagnostics = Seq("rounds" -> rounds.size.toDouble) ++
        Stats.tail("round_s", rounds.toSeq) ++
        Seq("append", "serve").flatMap(op =>
          Stats.tail(s"${op}_s", opTimes.collect {
            case (k, v) if k.contains(s".$op") || k.startsWith(s"$op.") => v
          }.flatten.toSeq)))
  }

  private def roots(work: Path, i: Int): Roots = {
    val base = work.resolve(s"indexes-$i")
    Roots(base.resolve("bm25").toString, base.resolve("ivf").toString,
      base.resolve("dedup").toString)
  }
}

/** Index-free recomputations of the two serves, with the engine's
  * arithmetic (sequential double sums, 4-dp HALF_UP rounding, score
  * ties to the smaller id).
  */
object BruteForce {
  private def round4(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Okapi BM25 (k1 = 1.2, b = 0.75) top 10 of `docs` for `terms`. */
  def bm25(docs: Seq[(Long, String)], terms: Seq[String]): Seq[(Long, Double)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1) }
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / toks.size
    val df = terms.map(w => w -> toks.count(_._2.contains(w)).toDouble).toMap
    toks.flatMap { case (id, ws) =>
      val dl = ws.length
      val parts = terms.distinct.flatMap { w =>
        val tf = ws.count(_ == w)
        if (tf == 0) None
        else {
          val idf = math.log(1.0 + (n - df(w) + 0.5) / (df(w) + 0.5))
          Some(idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))
        }
      }
      if (parts.isEmpty) None else Some(id -> round4(parts.sum))
    }.sortBy { case (id, s) => (-s, id) }.take(10)
  }

  private def cosine(a: Array[Float], b: Array[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      val x = a(i).toDouble; val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na) / math.sqrt(nb)
  }

  private def nearest(v: Array[Float], cents: Seq[(Long, Array[Double])],
      n: Int): Seq[Long] =
    cents.map { case (id, c) => (-round4(cosine(v, c)), id) }
      .sortBy(identity).take(n).map(_._2)

  /** IVF top 5 (nprobe 4) of each query: every live vector sits in its
    * nearest centroid's cell, a query scans its 4 nearest cells.
    */
  def ivf(live: Seq[(Long, Array[Float])], queries: Seq[(Long, Array[Float])],
      cents: Seq[(Long, Array[Double])]): Seq[(Long, Long, Int)] = {
    val cell = live.map { case (id, v) => id -> nearest(v, cents, 1).head }.toMap
    queries.flatMap { case (q, qv) =>
      val probes = nearest(qv, cents, 4).toSet
      live.filter { case (id, _) => id != q && probes(cell(id)) }
        .map { case (id, v) => (-round4(cosine(qv, v.map(_.toDouble))), id) }
        .sortBy(identity).take(5).zipWithIndex
        .map { case ((_, id), rank) => (q, id, rank + 1) }
    }
  }
}
