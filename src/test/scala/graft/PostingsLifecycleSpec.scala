package graft

import graft.operators.Retrieval
import graft.operators.Retrieval.PostingsKind
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The postings lifecycle, checked once per index kind: every kind runs
  * the same table of checks against the shared verbs, over the as-of
  * layout (seed = doc_id % 5 ≠ 4, fold `b1` = the rest, takedown `d2`
  * of doc_id % 7 = 3).
  */
class PostingsLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val kinds =
    Seq(Retrieval.Bm25, Retrieval.Phrase, Retrieval.Trigram, Retrieval.Near)

  private def docs = Tables.documents(spark, sf0001)
  private def victims = docs.filter($"doc_id" % 7 === 3).select($"doc_id")

  private def asOfRoot(k: PostingsKind): String = {
    val root = tmpDir(s"lifecycle-${k.name}")
    k.write(docs.filter($"doc_id" % 5 =!= 4), root)
    assert(k.append(docs.filter($"doc_id" % 5 === 4), root, 1L))
    assert(k.delete(victims, root, 2L))
    root
  }

  /** Every file under `root` with its size and modification time. */
  private def tree(root: String): Set[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(base).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => (base.relativize(p).toString, p.toFile.length,
        p.toFile.lastModified))
      .toSet
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** What a kind serves: its postings, plus its stats row if it has one. */
  private def served(k: PostingsKind, root: String,
      asOf: Option[Long] = None): Seq[String] =
    rows(k.read(spark, root, asOf)) ++
      (if (k.sides.contains("stats")) rows(k.stats(spark, root, asOf))
       else Nil)

  for (k <- kinds) {
    test(s"${k.name}: a replayed append, delete or vacuum returns false " +
      "and leaves the file tree unchanged") {
      val root = asOfRoot(k)
      val before = tree(root)
      assert(!k.append(docs.filter($"doc_id" % 5 === 4), root, 1L))
      assert(!k.delete(victims, root, 2L))
      assert(tree(root) == before, "a replayed fold or delete wrote")
      assert(k.vacuum(spark, root, 1L))
      val vacuumed = tree(root)
      assert(!k.vacuum(spark, root, 1L))
      assert(tree(root) == vacuumed, "a replayed vacuum wrote")
    }

    test(s"${k.name}: vacuum and compact serve exactly the rows served " +
      "before them") {
      val root = asOfRoot(k)
      val now = served(k, root)
      val horizons = Seq(1L, 2L).map(h => h -> served(k, root, Some(h)))
      assert(now.nonEmpty && horizons.forall(_._2.nonEmpty))
      assert(k.vacuum(spark, root, 1L))
      assert(served(k, root) == now, "the current view moved under vacuum")
      for ((h, rs) <- horizons)
        assert(served(k, root, Some(h)) == rs, s"horizon $h moved")
      k.compact(spark, root)
      assert(served(k, root) == now, "the current view moved under compact")
    }

    test(s"${k.name}: merge serves the union of both roots and writes " +
      "the merged-from ledger line") {
      val a = tmpDir(s"merge-a-${k.name}")
      val b = tmpDir(s"merge-b-${k.name}")
      k.write(docs.filter($"doc_id" % 3 =!= 2), a)
      k.write(docs.filter($"doc_id" % 3 === 2), b)
      val dest = tmpDir(s"merge-dest-${k.name}")
      k.merge(spark, a, b, dest)
      val p = Retrieval.protocol(dest)
      val line = "merged-from=" + new java.io.File(a).getName + "+" +
        new java.io.File(b).getName
      assert(p.entries().contains(line), s"ledger: ${p.entries()}")
      assert(p.foldedBatches() == Set(0L))
      assert(k.complete(spark, dest))
      assert(rows(k.read(spark, dest)) ==
        (rows(k.read(spark, a)) ++ rows(k.read(spark, b))).sorted)
    }

    test(s"${k.name}: the completeness predicate rejects a root that " +
      "lacks one side's _SUCCESS") {
      val root = tmpDir(s"complete-${k.name}")
      k.write(docs, root)
      assert(k.complete(spark, root))
      for (side <- k.sides) {
        val marker = new java.io.File(s"$root/$side/seed/_SUCCESS")
        assert(marker.delete(), s"no $side/seed/_SUCCESS")
        assert(!k.complete(spark, root), s"complete without $side _SUCCESS")
        assert(marker.createNewFile())
        assert(k.complete(spark, root))
      }
    }
  }
}
