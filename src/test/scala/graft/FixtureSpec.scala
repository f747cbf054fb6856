package graft

import graft.index._
import graft.operators.{Retrieval, Similarity}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The fixture derivation: one script per step type, each checked for
  * (1) a no-op second ensure, (2) a rebuild once the script's last
  * recorded step is undone on disk, and (3) a fresh root for any change
  * of build parameter or step id.
  */
class FixtureSpec extends SparkSpec {

  private def fs = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def docs = Tables.documents(spark, sf0001)
  private def vecs = Tables.embeddings(spark, sf0001)
    .select(col("vec_id"), col("embedding").as("v"))

  private val Trigram = Retrieval.Trigram.kind

  /** Rewrite `root`'s ledger without `entry` (through the Hadoop FS, so
    * the checksum sidecar stays consistent).
    */
  private def dropEntry(ledger: String)(entry: String => Boolean)(
      root: String): Unit = {
    val p = new Path(root, ledger)
    val in = fs.open(p)
    val kept = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(entry).toList finally in.close()
    val out = fs.create(p, true)
    try out.write(kept.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  private def checkDerivation(f: Fixture, variant: Fixture)(
      undoLast: String => Unit): Unit = {
    val root = f.root(spark, sf0001)
    fs.delete(new Path(root), true)
    assert(f.ensure(spark, sf0001) == root)
    val dir = new java.io.File(new Path(root).toUri.getPath)
    val parent = dir.getParentFile
    def litter = parent.list().filter(_.startsWith(s".${dir.getName}."))
    val (rootMtime, parentMtime) = (dir.lastModified, parent.lastModified)

    // (1) a complete root is re-served untouched, nothing is staged
    assert(f.ensure(spark, sf0001) == root)
    assert(dir.lastModified == rootMtime, "second ensure touched the root")
    assert(parent.lastModified == parentMtime && litter.isEmpty,
      "second ensure staged a sibling")

    // (2) undo the last recorded step: the next ensure rebuilds (a fresh
    // published dir, so a probe file planted in the old one is gone)
    undoLast(root)
    assert(new java.io.File(dir, "probe").createNewFile())
    assert(f.ensure(spark, sf0001) == root)
    assert(!new java.io.File(dir, "probe").exists, "the root did not rebuild")
    assert(litter.isEmpty)

    // (3) a different script or build parameter never shares the root
    assert(variant.root(spark, sf0001) != root)
  }

  test("Seed: the root carries the kind's build parameters (PQ K), and " +
    "a lost seed marker rebuilds") {
    val f = Fixture("graft_fixturespec_seed",
      Similarity.ivfPqKind(Similarity.FixedK), Seq(Seed(vecs)))
    assert(f.name == s"graft_fixturespec_seed_k${Similarity.FixedK}")
    checkDerivation(f,
      f.copy(kind = Similarity.ivfPqKind(Similarity.FixedKWide))) { root =>
      assert(fs.delete(new Path(root, "vectors/seed/_SUCCESS"), false))
    }
  }

  test("Fold: the fold id is in the root, its ledger entry in the " +
    "completeness") {
    def script(foldId: Long) = Fixture("graft_fixturespec_fold", Trigram,
      Seq(Seed(docs.filter(col("doc_id") % 5 =!= 4)),
        Fold(foldId, docs.filter(col("doc_id") % 5 === 4))))
    assert(script(1L).name == "graft_fixturespec_fold_f1")
    checkDerivation(script(1L), script(2L))(
      dropEntry("_postings_ledger")(_ == "1"))
  }

  test("Delete: the delete id is in the root, its d-entry in the " +
    "completeness") {
    def script(deleteId: Long) = Fixture("graft_fixturespec_delete",
      Trigram, Seq(Seed(docs), Delete(deleteId,
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))))
    checkDerivation(script(1L), script(2L))(
      dropEntry("_postings_ledger")(_ == "d1"))
  }

  test("Refresh: the refresh id is in the root, its r-entry in the " +
    "completeness") {
    def script(refreshId: Long) = Fixture("graft_fixturespec_refresh",
      Similarity.IvfKind, Seq(Seed(vecs), Refresh(refreshId)))
    checkDerivation(script(0L), script(1L))(
      dropEntry("_vec_ledger")(_ == "r0"))
  }

  test("Vacuum: the floor is in the root; the delete above the floor " +
    "stays a completeness condition") {
    def script(floor: Long) = Fixture("graft_fixturespec_vacuum", Trigram,
      Seq(Seed(docs.filter(col("doc_id") % 5 =!= 4)),
        Fold(1L, docs.filter(col("doc_id") % 5 === 4)),
        Delete(2L, docs.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"))),
        Vacuum(floor)))
    assert(script(1L).name == "graft_fixturespec_vacuum_f1_d2_v1")
    checkDerivation(script(1L), script(2L))(
      dropEntry("_postings_ledger")(_ == "d2"))
    val root = script(1L).root(spark, sf0001)
    assert(fs.exists(new Path(root, "postings/c1/_SUCCESS")) &&
      !fs.exists(new Path(root, "postings/seed")))
  }

  test("Merge: a change to either source's script moves the merged " +
    "root; the merged-from provenance is in the completeness") {
    def src(name: String, rem: Int, extra: Seq[Step] = Nil) =
      Fixture(name, Trigram, Seq(Seed(docs.filter(col("doc_id") % 3 === rem))) ++ extra)
    val a = src("graft_fixturespec_src_a", 0)
    val b = src("graft_fixturespec_src_b", 1)
    val f = Fixture("graft_fixturespec_merged", Trigram, Seq(Merge(a, b)))
    val b2 = src("graft_fixturespec_src_b", 1,
      Seq(Delete(1L, docs.filter(col("doc_id") === 1L).select(col("doc_id")))))
    checkDerivation(f, f.copy(steps = Seq(Merge(a, b2))))(
      dropEntry("_postings_ledger")(_.startsWith("merged-from=")))
    assert(Retrieval.Trigram.read(spark, f.root(spark, sf0001)).count() ==
      Retrieval.Trigram.read(spark, a.root(spark, sf0001)).count() +
        Retrieval.Trigram.read(spark, b.root(spark, sf0001)).count())
  }
}
