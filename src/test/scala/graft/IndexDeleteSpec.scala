package graft

import graft.index.FoldProtocol
import graft.operators.{Dedup, Retrieval, Similarity}
import org.apache.spark.sql.functions._

/** Deletion/tombstone protocol of the three persisted indexes: victims
  * vanish from every serving path at the delete's commit instant (and
  * not one instant earlier — a staged-but-uncommitted delete is
  * invisible), replays short-circuit, results equal a from-scratch
  * rebuild without the victims, and compaction purges the rows
  * physically while replayed deleteIds keep short-circuiting.
  */
class IndexDeleteSpec extends SparkSpec {
  import spark.implicits._

  test("deleteFromBm25Index: victims vanish from rankings, stats/df " +
    "shift to the rebuild-without-victims answer, crash+replay are " +
    "exactly-once, compaction purges physically") {
    val idx = tmpDir("bm25-del")
    val docs = Tables.documents(spark, sf0001)
    Retrieval.writeBm25Index(docs, idx)
    val terms = Seq("dup", "query", "scan")
    def served() = Retrieval.bm25TopK(spark, idx, terms)
      .as[(Long, Double)].collect().toSeq
    val baseline = served()
    // victims = the current top-3: guarantees the delete changes the
    // answer (non-vacuous gate)
    val victims = baseline.take(3).map(_._1)
    val vdf = victims.toDF("doc_id")

    // crash window: tombstones staged but NOT committed → invisible
    new FoldProtocol(idx, "_postings_ledger")
      .stageTombstones(vdf, "doc_id", 0L)
    assert(served() == baseline, "uncommitted tombstones must not serve")

    assert(Retrieval.deleteFromBm25Index(vdf, idx, 0L))
    assert(!Retrieval.deleteFromBm25Index(vdf, idx, 0L),
      "replayed deleteId must be a committed no-op")
    val afterDelete = served()
    assert(victims.forall(v => !afterDelete.exists(_._1 == v)))
    assert(afterDelete != baseline)

    // the delete contract: identical to an index that never saw them
    // (df, N and avgdl all shifted)
    val idx2 = tmpDir("bm25-del-rebuild")
    Retrieval.writeBm25Index(docs.filter(!$"doc_id".isin(victims: _*)), idx2)
    assert(afterDelete == Retrieval.bm25TopK(spark, idx2, terms)
      .as[(Long, Double)].collect().toSeq)

    // compaction: answers unchanged, tombstone dirs dropped, victims
    // physically absent from the compacted postings
    Retrieval.compactBm25Index(spark, idx)
    assert(served() == afterDelete)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(idx, "tombstones")))
    assert(spark.read.parquet(
      Retrieval.protocol(idx).committedDirs("postings")
        .filter(_.matches(".*/c\\d+$")).head)
      .filter($"doc_id".isin(victims: _*)).count() == 0,
      "compaction must purge tombstoned postings physically")
    assert(!Retrieval.deleteFromBm25Index(vdf, idx, 0L),
      "deleteId keeps short-circuiting after its tombstones are purged")
  }

  test("deleteFromIvfIndex: victims stop serving as neighbors, " +
    "surviving ranks keep their order, crash+replay are exactly-once, " +
    "compaction purges physically") {
    val idx = tmpDir("ivf-del")
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".as("v"))
    Similarity.writeIvfIndex(e, idx)
    val queries = Tables.embeddings(spark, sf0001)
      .filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    // sorted: the serve's row order follows the physical layout of the
    // cells it streams, which compaction rewrites
    def served() = Similarity.indexTopK(spark, idx, queries)
      .as[(Long, Long, Int)].collect().toSeq.sorted
    val baseline = served()
    // victims = 3 currently-served neighbors: the delete must change
    // some ranking
    val victims = baseline.map(_._2).distinct.take(3)
    val vdf = victims.toDF("vec_id")

    new FoldProtocol(idx, "_vec_ledger").stageTombstones(vdf, "vec_id", 0L)
    assert(served() == baseline, "uncommitted tombstones must not serve")

    assert(Similarity.deleteFromIvfIndex(vdf, idx, 0L))
    assert(!Similarity.deleteFromIvfIndex(vdf, idx, 0L))
    val afterDelete = served()
    assert(victims.forall(v => !afterDelete.exists(_._2 == v)))
    assert(afterDelete != baseline)
    // frozen centroids ⇒ per query, the surviving baseline neighbors
    // must lead the new ranking in their original order (removal can
    // only promote, never reorder)
    afterDelete.groupBy(_._1).foreach { case (q, rows) =>
      val newOrder = rows.sortBy(_._3).map(_._2)
      val survivors = baseline.filter(_._1 == q).sortBy(_._3).map(_._2)
        .filterNot(victims.contains)
      assert(newOrder.take(survivors.length) == survivors, s"query $q")
    }

    Similarity.compactIvfIndex(spark, idx)
    assert(served() == afterDelete)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(idx, "tombstones")))
    assert(spark.read.parquet(
      Similarity.protocol(idx).committedDirs("vectors")
        .filter(_.matches(".*/c\\d+$")).head)
      .filter($"vec_id".isin(victims: _*)).count() == 0)
    assert(!Similarity.deleteFromIvfIndex(vdf, idx, 0L))
  }

  test("deleteFromIndex (dedup): the served index equals a rebuild on " +
    "the live history (df summary included), crash+replay are " +
    "exactly-once, compaction purges physically") {
    val idx = tmpDir("dedup-del")
    val docs = Tables.documents(spark, sf0001)
    val history = docs.filter($"doc_id" % 5 =!= 4)
    val incoming = docs.filter($"doc_id" % 5 === 4)
    Dedup.writeIndex(history, idx)
    def served() = Dedup.incrementalKeepNewIndexed(idx, incoming)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    val baseline = served()
    // victims = the shields of one dropped incoming doc: a doc dropped
    // ONLY because of history partners must survive once every partner
    // is tombstoned — a guaranteed, explainable answer change
    val nearPairs = SparkEntry.queries("dedup_ngram")(spark, sf0001)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val hashes = docs.select($"doc_id", md5($"text").as("h"))
      .as[(Long, String)].collect()
    val byHash = hashes.groupBy(_._2)
    def partners(b: Long): Seq[Long] = {
      val h = hashes.find(_._1 == b).get._2
      val ex = byHash(h).map(_._1).filter(_ < b)
      (ex ++ nearPairs.filter(_._2 == b).map(_._1)).distinct.sorted.toSeq
    }
    val incomingIds = incoming.select($"doc_id").as[Long].collect().toSet
    val dropped = (incomingIds -- baseline.toSet).toSeq.sorted
    val candidate = dropped
      .find(b => partners(b).nonEmpty &&
        partners(b).forall(p => !incomingIds.contains(p)))
      .getOrElse(fail(
        "fixture: no dropped incoming doc with history-only shields"))
    val victims = partners(candidate)
    val vdf = victims.toDF("doc_id")

    new FoldProtocol(idx, "df/_ledger").stageTombstones(vdf, "doc_id", 0L)
    assert(served() == baseline, "uncommitted tombstones must not serve")

    assert(Dedup.deleteFromIndex(vdf, idx, 0L))
    assert(!Dedup.deleteFromIndex(vdf, idx, 0L))
    val afterDelete = served()
    assert(afterDelete.contains(candidate),
      s"doc $candidate lost every shield ($victims) and must survive")
    assert(afterDelete != baseline)

    // the delete contract: serving equals a from-scratch index on the
    // LIVE history, df summary included (the stop-list counts must
    // have been corrected, not just the rows hidden)
    val idx2 = tmpDir("dedup-del-rebuild")
    Dedup.writeIndex(history.filter(!$"doc_id".isin(victims: _*)), idx2)
    assert(afterDelete ==
      Dedup.incrementalKeepNewIndexed(idx2, incoming)
        .select($"doc_id").as[Long].collect().toSeq.sorted)
    def dfSummary(p: String) = Dedup.servedDf(spark, p)
      .select($"shh", $"df").as[(Long, Long)].collect().toSet
    assert(dfSummary(idx) == dfSummary(idx2),
      "delete-commit must leave the exact live-history df summary")

    Dedup.compactIndex(spark, idx)
    assert(served() == afterDelete)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(idx, "tombstones")))
    for (sub <- Seq("shingles", "hashes"))
      assert(spark.read.parquet(
        Dedup.protocol(idx).committedDirs(sub)
          .filter(_.matches(".*/c\\d+$")).head)
        .filter($"doc_id".isin(victims: _*)).count() == 0, sub)
    assert(!Dedup.deleteFromIndex(vdf, idx, 0L))
  }

  test("ledger-ordered tombstones: a taken-down id re-ingested in a " +
    "later fold serves again, replays stay exactly-once, and " +
    "compaction keeps the re-ingested rows while purging the hidden " +
    "pre-delete ones") {
    val idx = tmpDir("dedup-readd")
    val docs = Tables.documents(spark, sf0001)
    val history = docs.filter($"doc_id" % 5 =!= 4)
    val incoming = docs.filter($"doc_id" % 5 === 4)
    val isVictim = $"doc_id" % 10 === 0 || $"doc_id" % 10 === 7
    val victims = history.filter(isVictim)
    val victimIds = victims.select($"doc_id").as[Long].collect().toSeq
    Dedup.writeIndex(history.filter(!isVictim), idx)
    assert(Dedup.appendToIndex(victims, idx, 1L))
    def served() = Dedup.incrementalKeepNewIndexed(idx, incoming)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    val full = served()

    assert(Dedup.deleteFromIndex(victims.select($"doc_id"), idx, 0L))
    val afterDelete = served()
    assert(afterDelete != full,
      "fixture: the victim classes must shield incoming dups at this sf")

    // re-ingest the SAME ids in a later fold: the tombstones' high-water
    // mark (1) scopes them to batch 1, so batch 2 serves normally
    assert(Dedup.appendToIndex(victims, idx, 2L))
    assert(served() == full, "re-ingested ids must shield again")

    // replays of both halves of the lifecycle stay committed no-ops
    assert(!Dedup.deleteFromIndex(victims.select($"doc_id"), idx, 0L))
    assert(!Dedup.appendToIndex(victims, idx, 2L))
    assert(served() == full)

    // compaction folds the SERVED view: the hidden batch-1 rows purge,
    // the re-ingested rows survive exactly once
    Dedup.compactIndex(spark, idx)
    assert(served() == full)
    val compactHashes = spark.read.parquet(
      Dedup.protocol(idx).committedDirs("hashes")
        .filter(_.matches(".*/c\\d+$")).head)
    assert(compactHashes.filter($"doc_id".isin(victimIds: _*))
      .groupBy($"doc_id").count().filter($"count" =!= 1).count() == 0,
      "exactly one served row per re-ingested id after the purge")
  }
}
