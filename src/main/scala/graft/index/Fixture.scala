package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One persisted index kind as the fixture layer sees it: where its
  * ledger lives, which directories make a built index, and the kind's
  * own lifecycle functions (the ones its operators already export).
  *
  *   - `fixed` — build-once dirs that must carry `_SUCCESS` (IVF
  *     `cents`, PQ `codebook`, dedup `df`);
  *   - `payload` — the ledgered frame dirs (`vectors`, `postings`, …):
  *     each needs a committed `seed` or `c<n>` dir with `_SUCCESS`,
  *     and a vacuum collapses each of them;
  *   - `params` — the build parameters that pick the construction (PQ
  *     `K`, the IVF seeding mode). They go into every fixture root's
  *     name, because [[complete]] can only attest "a complete index is
  *     here", not which construction built it.
  *
  * `refresh` receives the union of the script's seed and fold inputs
  * (the full-precision population the binary and PQ rungs re-cluster
  * over); kinds without a refresh or merge leave the defaults, which
  * refuse.
  */
final case class IndexKind(
    protocol: String => FoldProtocol,
    fixed: Seq[String],
    payload: Seq[String],
    write: (DataFrame, String) => Unit,
    fold: (DataFrame, String, Long) => Unit,
    delete: (DataFrame, String, Long) => Unit,
    vacuum: (SparkSession, String, Long) => Unit,
    refresh: (SparkSession, String, Long, DataFrame) => Unit =
      (_, r, _, _) => IndexKind.unsupported("refresh", r),
    merge: (SparkSession, String, String, String) => Unit =
      (_, _, _, r) => IndexKind.unsupported("merge", r),
    params: String = "") {

  /** Every fixed dir landed and every payload dir serves a committed
    * `seed` or `c<n>` frame — resolved through the manifest, so a
    * generation-published root validates the generation it serves.
    * Must also hold against a staging dir (the publish-time check).
    */
  def complete(s: SparkSession, root: String): Boolean = {
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    val p = protocol(root)
    fixed.forall(k => fs.exists(new Path(p.dir(k), "_SUCCESS"))) &&
      payload.forall(k => p.committedDirsOrEmpty(k).exists { dir =>
        val name = dir.substring(dir.lastIndexOf('/') + 1)
        (name == "seed" || name.matches("c\\d+")) &&
          fs.exists(new Path(dir, "_SUCCESS"))
      })
  }
}

object IndexKind {
  private def unsupported(verb: String, root: String): Nothing =
    throw new UnsupportedOperationException(
      s"this index kind has no $verb (fixture root $root)")
}

/** One step of a fixture script. Inputs are by-name: a complete root
  * never evaluates them, so an ensure that finds its root costs no
  * table reads.
  */
sealed abstract class Step(val tag: String)

final class Seed(in: => DataFrame) extends Step("") {
  def input: DataFrame = in
}
object Seed { def apply(in: => DataFrame): Seed = new Seed(in) }

final class Fold(val id: Long, in: => DataFrame) extends Step(s"_f$id") {
  def input: DataFrame = in
}
object Fold { def apply(id: Long, in: => DataFrame): Fold = new Fold(id, in) }

final class Delete(val id: Long, ids: => DataFrame) extends Step(s"_d$id") {
  def input: DataFrame = ids
}
object Delete {
  def apply(id: Long, ids: => DataFrame): Delete = new Delete(id, ids)
}

final case class Refresh(id: Long) extends Step(s"_r$id")
final case class Vacuum(floor: Long) extends Step(s"_v$floor")

/** Tagged with a hash of both sources' derived names, so a change to
  * either source's script lands the merge in a fresh root too.
  */
final case class Merge(primary: Fixture, secondary: Fixture)
    extends Step(f"_m${(primary.name + "+" + secondary.name).hashCode}%08x")

/** A build-if-absent index fixture as a value: a base name, a kind and
  * a step script. [[ensure]] derives both the root and its
  * completeness from the script, so neither can drift from the build:
  *
  *   - '''root''' — warehouse dir / base + kind params + each step's
  *     verb and ledger id (a merge: a hash of its sources' names) + the
  *     data-dir suffix, e.g. `graft_ivf_asof_f1_d2<suffix>`. Any change
  *     of construction or script lands in a fresh root instead of
  *     re-serving an old one.
  *   - '''completeness''' — the kind's [[IndexKind.complete]] AND every
  *     step's post-condition: a fold's id ledgered, a delete's `d<id>`,
  *     a refresh's `r<id>`, a merge's `merged-from=` provenance naming
  *     both source roots; a vacuum needs `c<floor>/_SUCCESS` in every
  *     payload dir and no `seed` left, and supersedes the fold and
  *     delete conditions at or below its floor.
  *
  * The build runs through `Layout.ensurePublishedDir` (stage into a
  * private sibling, check completeness, publish atomically).
  */
final case class Fixture(base: String, kind: IndexKind, steps: Seq[Step]) {

  /** The derived root name, without the data-dir suffix. */
  def name: String =
    base + (if (kind.params.isEmpty) "" else s"_${kind.params}") +
      steps.map(_.tag).mkString

  def root(s: SparkSession, d: String): String = Fixture.root(s, d, name)

  def ensure(s: SparkSession, d: String): String =
    graft.operators.Layout.ensurePublishedDir(s, root(s, d))(
      complete(s, d, _))(build(s, d, _))

  private[index] def complete(s: SparkSession, d: String,
      r: String): Boolean = kind.complete(s, r) && {
    val p = kind.protocol(r)
    val fs = new Path(r).getFileSystem(s.sparkContext.hadoopConfiguration)
    val entries = p.entries()
    val floor = steps.collect { case Vacuum(f) => f }.maxOption
      .getOrElse(Long.MinValue)
    def sourceName(f: Fixture) = new Path(f.root(s, d)).getName
    steps.forall {
      case _: Seed => true
      case f: Fold => f.id <= floor || entries.contains(f.id.toString)
      case x: Delete => x.id <= floor || entries.contains(s"d${x.id}")
      case Refresh(id) => entries.contains(s"r$id")
      case Vacuum(f) => kind.payload.forall { k =>
        fs.exists(new Path(s"${p.dir(k)}/c$f", "_SUCCESS")) &&
          !fs.exists(new Path(p.dir(k), "seed"))
      }
      case Merge(a, b) =>
        entries.contains(s"merged-from=${sourceName(a)}+${sourceName(b)}")
    }
  }

  private[index] def build(s: SparkSession, d: String,
      staging: String): Unit = {
    lazy val population = steps.collect {
      case x: Seed => x.input
      case f: Fold => f.input
    }.reduce(_.union(_))
    steps.foreach {
      case x: Seed => kind.write(x.input, staging)
      case f: Fold => kind.fold(f.input, staging, f.id)
      case x: Delete => kind.delete(x.input, staging, x.id)
      case Refresh(id) => kind.refresh(s, staging, id, population)
      case Vacuum(f) => kind.vacuum(s, staging, f)
      case Merge(a, b) => kind.merge(s, a.ensure(s, d), b.ensure(s, d), staging)
    }
  }
}

object Fixture {

  /** The session-warehouse root of a build-if-absent artifact: `name`
    * plus the data dir flattened to a suffix, so each scale factor
    * gets its own root.
    */
  def root(s: SparkSession, d: String, name: String): String =
    new Path(s.conf.get("spark.sql.warehouse.dir"),
      name + d.replaceAll("\\W", "_")).toString

  /** Several fixtures published together as sub-dirs of ONE root
    * (`<root>/<member base>`), complete only when every member is —
    * the shape of the cross-index takedown gates.
    */
  def ensureGroup(s: SparkSession, d: String, base: String,
      members: Fixture*): String =
    graft.operators.Layout.ensurePublishedDir(s,
      root(s, d, base + members.map("_" + _.name).mkString))(r =>
      members.forall(m => m.complete(s, d, s"$r/${m.base}")))(st =>
      members.foreach(m => m.build(s, d, s"$st/${m.base}")))
}
