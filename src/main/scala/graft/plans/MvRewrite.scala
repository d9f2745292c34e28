package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DoubleType

/** Transparent materialized-view rewrite: queries keep addressing the BASE
  * table; when a registered MV already holds the aggregate, the optimizer
  * swaps the corpus scan for the group-sized MV scan. Together with
  * [[graft.operators.Ivm]] this closes the MV loop — `Ivm.applyDelta`
  * keeps the view current from CDC deltas at O(|delta| + |view|), and this
  * rule makes every matching report read it, so the 100 TB corpus is
  * scanned exactly once per view lifetime, not once per dashboard refresh.
  *
  * Matching (v2, deliberately conservative — a miss means the original
  * plan runs, never a wrong answer):
  *   - the aggregate's child is the MV's base parquet relation, optionally
  *     under column-pruning Projects and/or Filters whose predicates are
  *     deterministic, subquery-free, and reference ONLY MV key columns
  *     (a key predicate selects whole groups, so it commutes with the
  *     rollup and is applied to the group-sized MV instead); HAVING — a
  *     Filter ABOVE the aggregate — needs no matching at all: the rewrite
  *     preserves output exprIds, so the post-agg filter applies unchanged,
  *   - grouping expressions are plain columns forming a SUBSET of the MV's
  *     keys (exact match → pure projection; proper subset → a ROLLUP
  *     re-aggregation over the group-sized MV: sum→sum, count→SUM of
  *     partial counts, min→min, max→max),
  *   - every aggregate is an undistinct, unfiltered sum/count(lit)/min/max
  *     whose (fn, input column) the MV declares.
  *
  * Output attributes keep the original expression ids, so the rewrite is
  * invisible to every downstream operator.
  *
  * Freshness contract, two tiers:
  *   - `mvPath` is a [[graft.sources.SnapshotLake]] root (has a `_CURRENT`
  *     pointer): the rewrite resolves the CURRENT version at QUERY time,
  *     so an IVM refresh that commits v+1 is served immediately — no
  *     re-register, and stale-file serving is structurally impossible
  *     (version directories are immutable; the pointer swap is atomic).
  *     This is the recommended store for any view that refreshes.
  *   - plain parquet path: the relation is captured at registration;
  *     re-register after each refresh that rewrites the files in place,
  *     and deregister around non-atomic rebuilds.
  */
object MvRegistry {
  /** One declared aggregate of the view: `outName` = MV column,
    * `fn` ∈ sum|count|min|max, `inputCol` = base column (None for count).
    */
  final case class AggDef(outName: String, fn: String, inputCol: Option[String])

  /** One dimension of a STAR/SNOWFLAKE view: its anchor (path tail or
    * catalog table name) and the equi-key pairs that join it in —
    * `(leftName, dimName)` column-name pairs, where `leftName` may live on
    * the fact table (star) or on another dim (snowflake chain), and a dim
    * may join on a COMPOSITE key (several pairs). Names are global across
    * the join (the matcher requires join-wide unique column names), so a
    * name pair identifies the join condition unambiguously.
    */
  final case class DimDef(dimPathTail: String, keys: Seq[(String, String)],
      catalogAnchor: Option[String] = None)

  /** JOIN views: the MV materialized the fact table inner-joined with
    * every [[DimDef]] (in any association order — inner joins commute)
    * before aggregating — star, snowflake, and composite-key rollups.
    */
  final case class JoinDef(dims: Seq[DimDef])

  final case class MvDef(name: String, basePathTail: String, keys: Seq[String],
      aggs: Seq[AggDef], mvPath: String, fixed: Option[LogicalRelation],
      join: Option[JoinDef] = None, catalogAnchor: Option[String] = None)

  /** A DISTINCT-COUNT view held as a per-group KMV sketch store
    * ([[graft.operators.Ivm.viewKmv]] schema: keys :+ `kmv`): serves
    * `graft_kmv(hash64(valueCol), k)` sketch aggregates over the base
    * table, and — opt-in via `serveExactDistinct` — `count(DISTINCT
    * valueCol)` as the sketch size. The exact arm is the registrant's
    * CONTRACT that every group's distinct count stays under k (the
    * underfull regime, where the bottom-k set IS the complete distinct
    * hash set); outside it the sketch is an estimate and the exact arm
    * must stay off.
    */
  final case class KmvDef(name: String, basePathTail: String,
      keys: Seq[String], valueCol: String, k: Int, mvPath: String,
      fixed: Option[LogicalRelation], serveExactDistinct: Boolean,
      catalogAnchor: Option[String] = None)

  /** A QUANTILE-SKETCH store ([[graft.operators.Ivm.viewQuantile]]
    * schema: keys :+ `qsk`): serves `QuantileSketch.bottomK(
    * hash64(idCol), valueCol, k)` aggregates over the base table —
    * exact-key queries read the stored sketch, subset-key/global
    * rollups merge the finer sketches via
    * [[graft.functions.QSketchMergeAgg]] (bit-exact; bottom-k of a
    * union of bottom-ks). No exact-percentile arm exists by
    * construction: the sketch IS the estimate, so serving never changes
    * a query's answer class the way the KMV exact-distinct contract
    * could.
    */
  final case class QskDef(name: String, basePathTail: String,
      keys: Seq[String], idCol: String, valueCol: String, k: Int,
      mvPath: String, fixed: Option[LogicalRelation],
      catalogAnchor: Option[String] = None)

  /** A FREQUENCY view held as a Count-Min sketch store
    * ([[graft.operators.Ivm.viewCms]]'s relational (keys…, r, c, cnt)
    * layout): serves a query RE-STATING the sketch build —
    * `Cms.build(base, subsetKeys, col(valueCol), depth, width)` — from
    * the stored cells. Exact keys project; a SUBSET of the store's keys
    * re-aggregates cell-wise (`sum(cnt)` by (keys, r, c)): the cell hash
    * never involves the grouping keys, so summing a finer store's cells
    * is bit-identical to the direct coarser build. Estimates composed
    * downstream ([[graft.functions.Cms.pointEstimate]]'s min-over-rows
    * probe) ride on the served relation unchanged. No exact-count arm
    * exists: like the quantile store, the sketch IS the estimate, so
    * serving never silently changes a query's answer class.
    */
  final case class CmsDef(name: String, basePathTail: String,
      keys: Seq[String], valueCol: String, depth: Int, width: Int,
      mvPath: String, fixed: Option[LogicalRelation],
      catalogAnchor: Option[String] = None)

  private val views = new java.util.concurrent.ConcurrentHashMap[String, MvDef]()
  private val kmvViews =
    new java.util.concurrent.ConcurrentHashMap[String, KmvDef]()
  private val qskViews =
    new java.util.concurrent.ConcurrentHashMap[String, QskDef]()
  private val cmsViews =
    new java.util.concurrent.ConcurrentHashMap[String, CmsDef]()
  // one analyzed relation per STORE PATH, tagged with its version: only
  // `_CURRENT` is ever served, so when a refresh advances the pointer the
  // superseded version's entry is dead by construction — keyed by path and
  // replaced on version advance, the cache is bounded by |registered
  // stores|, not by refresh count (a per-minute IVM refresher used to leak
  // one analyzed plan + file index per trigger, forever).
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, LogicalRelation)]()

  private def analyzeRelation(spark: SparkSession, path: String): LogicalRelation =
    spark.read.parquet(path).queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l }
      .getOrElse(throw new IllegalArgumentException(
        s"$path did not analyze to a LogicalRelation"))

  /** The CATALOG spelling of a registered anchor, resolved ONCE at
    * registration: a path anchor (contains '/') has none; a bare table
    * name is db-qualified against the session's CURRENT database; a
    * `db.table` spelling is kept. The matcher compares only this
    * fully-qualified form against a relation's catalog identifier — a
    * bare `docs` registered while `default` is current must NOT rewrite
    * a query over `somedb.docs`, which is a different table that would
    * be served silently wrong. (Path matching keeps using the original
    * tail: a bare anchor may also name a path segment.)
    */
  private def catalogAnchorOf(spark: SparkSession, tail: String): Option[String] =
    if (tail.contains("/")) None
    else if (tail.contains(".")) Some(tail)
    else Some(s"${spark.catalog.currentDatabase}.$tail")

  /** Register `mvPath` as the materialization of base-table aggregates
    * over `basePathTail`. `mvPath` is either a SnapshotLake root (version-
    * stamped store — served at its CURRENT version on every query) or a
    * plain parquet directory (fixed relation captured now); columns must
    * include keys ++ aggs.outName either way.
    */
  /** The complete, validated MvDef — NOT yet published. [[register]] and
    * [[registerJoin]] both publish with one `views.put` of the finished
    * definition: publishing a join view in two steps would open a window
    * where a concurrent query aggregating the fact table ALONE passes
    * `tryPlain`'s join-isEmpty guard and is served from the join MV, whose
    * dim join may have dropped or multiplied fact rows.
    */
  private def buildDef(spark: SparkSession, name: String,
      basePathTail: String, keys: Seq[String], aggs: Seq[AggDef],
      mvPath: String, join: Option[JoinDef]): MvDef = {
    import graft.sources.SnapshotLake
    val versionedAt = SnapshotLake.currentVersion(mvPath)
    val lr = analyzeRelation(spark,
      versionedAt.map(v => SnapshotLake.versionPath(mvPath, v)).getOrElse(mvPath))
    val have = lr.output.map(_.name).toSet
    val need = keys ++ aggs.map(_.outName)
    require(need.forall(have), s"MV $mvPath lacks ${need.filterNot(have)}")
    MvDef(name, basePathTail, keys, aggs, mvPath,
      if (versionedAt.isDefined) None else Some(lr),
      join.map(jd => JoinDef(jd.dims.map(dd =>
        dd.copy(catalogAnchor = catalogAnchorOf(spark, dd.dimPathTail))))),
      catalogAnchorOf(spark, basePathTail))
  }

  def register(spark: SparkSession, name: String, basePathTail: String,
      keys: Seq[String], aggs: Seq[AggDef], mvPath: String): Unit = {
    views.put(name,
      buildDef(spark, name, basePathTail, keys, aggs, mvPath, None))
    ()
  }

  /** Register a STAR-JOIN view: `mvPath` materialized
    * `<factPathTail> INNER JOIN <dimPathTail> ON factKey = dimKey`
    * aggregated to `keys`. Queries re-stating that join shape rewrite to
    * the group-sized MV; everything else about the store (versioning,
    * rollup arms, key filters) behaves like [[register]]. Published
    * atomically WITH its JoinDef (one put — see [[buildDef]]).
    */
  def registerJoin(spark: SparkSession, name: String, factPathTail: String,
      dimPathTail: String, factKey: String, dimKey: String,
      keys: Seq[String], aggs: Seq[AggDef], mvPath: String): Unit =
    registerSnowflake(spark, name, factPathTail,
      Seq(dimPathTail -> Seq(factKey -> dimKey)), keys, aggs, mvPath)

  /** Register a SNOWFLAKE / composite-key join view: the MV materialized
    * `<factPathTail> ⋈ dim₁ ⋈ dim₂ ⋈ …` (all inner, each dim joined by
    * its [[DimDef]] name pairs — a pair's left side may be a fact column
    * or another dim's column, so chains like fact⋈orders⋈customer
    * register naturally) aggregated to `keys`. A query re-stating exactly
    * that join set — in ANY association order, with exactly those equi
    * conditions — serves from the group-sized MV.
    */
  def registerSnowflake(spark: SparkSession, name: String,
      factPathTail: String, dims: Seq[(String, Seq[(String, String)])],
      keys: Seq[String], aggs: Seq[AggDef], mvPath: String): Unit = {
    require(dims.nonEmpty && dims.forall(_._2.nonEmpty),
      "every dim needs at least one key pair")
    require(dims.map(_._1).distinct.size == dims.size,
      "dim anchors must be distinct (the same table twice would also " +
        "break the matcher's unique-name requirement)")
    views.put(name, buildDef(spark, name, factPathTail, keys, aggs, mvPath,
      Some(JoinDef(dims.map { case (t, ks) => DimDef(t, ks) }))))
    ()
  }

  /** Register a KMV sketch store ([[graft.operators.Ivm.viewKmv]] output
    * at `mvPath` — SnapshotLake root or plain parquet, like [[register]])
    * as the DISTINCT-COUNT view of `basePathTail` grouped by `keys` (or
    * any subset — the rollup arm merges sketches) over
    * hash64(`valueCol`). `serveExactDistinct = true` is the
    * registrant's contract that per-group distinct counts stay < k
    * (underfull sketches are complete), enabling `count(DISTINCT v)`
    * service; sketch-aggregate (`graft_kmv`) queries serve either way.
    */
  def registerKmv(spark: SparkSession, name: String, basePathTail: String,
      keys: Seq[String], valueCol: String, k: Int, mvPath: String,
      serveExactDistinct: Boolean = false): Unit = {
    import graft.sources.SnapshotLake
    val versionedAt = SnapshotLake.currentVersion(mvPath)
    val lr = analyzeRelation(spark,
      versionedAt.map(v => SnapshotLake.versionPath(mvPath, v)).getOrElse(mvPath))
    val have = lr.output.map(_.name).toSet
    val need = keys :+ "kmv"
    require(need.forall(have), s"KMV store $mvPath lacks ${need.filterNot(have)}")
    kmvViews.put(name, KmvDef(name, basePathTail, keys, valueCol, k, mvPath,
      if (versionedAt.isDefined) None else Some(lr), serveExactDistinct,
      catalogAnchorOf(spark, basePathTail)))
    ()
  }

  /** The relation to serve NOW: fixed stores return the registration-time
    * capture; version-stamped stores resolve `_CURRENT` and analyze (once
    * per version — the path's cache entry is REPLACED when the pointer
    * advances, so superseded versions do not accumulate).
    */
  def currentRelation(spark: SparkSession, mv: MvDef): LogicalRelation =
    serveRelation(spark, mv.mvPath, mv.fixed)

  private[graft] def serveRelation(spark: SparkSession, mvPath: String,
      fixed: Option[LogicalRelation]): LogicalRelation =
    fixed.getOrElse {
      import graft.sources.SnapshotLake
      val v = SnapshotLake.currentVersion(mvPath).getOrElse(
        throw new IllegalStateException(
          s"MV store $mvPath lost its _CURRENT pointer"))
      relCache.compute(mvPath, (_, prev) =>
        if (prev != null && prev._1 == v) prev
        else (v, analyzeRelation(spark, SnapshotLake.versionPath(mvPath, v))))
        ._2
    }

  /** Register a quantile-sketch store ([[graft.operators.Ivm.viewQuantile]]
    * output at `mvPath` — SnapshotLake root or plain parquet, like
    * [[register]]) as the percentile view of `basePathTail` grouped by
    * `keys` (or any subset — the rollup arm merges sketches) over
    * `valueCol`, rows identified by `idCol`.
    */
  def registerQuantile(spark: SparkSession, name: String,
      basePathTail: String, keys: Seq[String], idCol: String,
      valueCol: String, k: Int, mvPath: String): Unit = {
    import graft.sources.SnapshotLake
    val versionedAt = SnapshotLake.currentVersion(mvPath)
    val lr = analyzeRelation(spark,
      versionedAt.map(v => SnapshotLake.versionPath(mvPath, v)).getOrElse(mvPath))
    val have = lr.output.map(_.name).toSet
    val need = keys :+ "qsk"
    require(need.forall(have),
      s"quantile store $mvPath lacks ${need.filterNot(have)}")
    qskViews.put(name, QskDef(name, basePathTail, keys, idCol, valueCol, k,
      mvPath, if (versionedAt.isDefined) None else Some(lr),
      catalogAnchorOf(spark, basePathTail)))
    ()
  }

  def allQsk: Seq[QskDef] = {
    import scala.jdk.CollectionConverters._
    qskViews.values.asScala.toSeq
  }

  /** Register a Count-Min sketch store ([[graft.operators.Ivm.viewCms]]
    * output at `mvPath` — SnapshotLake root or plain parquet, like
    * [[register]]) as the FREQUENCY view of `basePathTail` grouped by
    * `keys` (or any subset — cells re-aggregate by sum) over `valueCol`
    * at the given depth×width geometry. A query building a sketch with a
    * different geometry, value column, or non-subset keys falls through
    * to the original plan (the match is whole-plan canonical equality —
    * see [[MvRewrite.tryCms]]).
    */
  def registerCms(spark: SparkSession, name: String, basePathTail: String,
      keys: Seq[String], valueCol: String, depth: Int, width: Int,
      mvPath: String): Unit = {
    import graft.sources.SnapshotLake
    require(depth > 0 && width > 0, "CMS geometry must be positive")
    val versionedAt = SnapshotLake.currentVersion(mvPath)
    val lr = analyzeRelation(spark,
      versionedAt.map(v => SnapshotLake.versionPath(mvPath, v)).getOrElse(mvPath))
    val have = lr.output.map(_.name).toSet
    val need = keys ++ Seq("r", "c", "cnt")
    require(need.forall(have), s"CMS store $mvPath lacks ${need.filterNot(have)}")
    cmsViews.put(name, CmsDef(name, basePathTail, keys, valueCol, depth,
      width, mvPath, if (versionedAt.isDefined) None else Some(lr),
      catalogAnchorOf(spark, basePathTail)))
    ()
  }

  def allCms: Seq[CmsDef] = {
    import scala.jdk.CollectionConverters._
    cmsViews.values.asScala.toSeq
  }

  def deregister(name: String): Unit = {
    Option(views.remove(name)).foreach(mv => relCache.remove(mv.mvPath))
    Option(kmvViews.remove(name)).foreach(kv => relCache.remove(kv.mvPath))
    Option(qskViews.remove(name)).foreach(qv => relCache.remove(qv.mvPath))
    Option(cmsViews.remove(name)).foreach(cv => relCache.remove(cv.mvPath))
  }

  /** Test hook: the number of cached analyzed relations — bounded by the
    * number of registered version-stamped stores, never by refresh count.
    */
  private[graft] def relCacheSize: Int = relCache.size
  def isEmpty: Boolean =
    views.isEmpty && kmvViews.isEmpty && qskViews.isEmpty && cmsViews.isEmpty
  def all: Seq[MvDef] = {
    import scala.jdk.CollectionConverters._
    views.values.asScala.toSeq
  }
  def allKmv: Seq[KmvDef] = {
    import scala.jdk.CollectionConverters._
    kmvViews.values.asScala.toSeq
  }
}

object MvRewrite {

  /** Serves the view registered as `name` while `body` runs, the one way
    * into the rewrite. `register` (the registration, and any refresh that
    * follows it) and `body` run inside one `try`; the view is deregistered
    * in its `finally` whatever throws, so a failed refresh cannot leave a
    * view in the process-wide [[MvRegistry]] to serve later queries. The
    * rule is live only while `body` runs: it is added to the session's
    * `extraOptimizations` if they hold no `MvRewrite` yet, and then
    * exactly that instance is removed again. So a refresh is never served
    * from the view it refreshes, and a rule the session already held
    * stays. (The copy [[GraftExtensions]] injects sits in the optimizer's
    * own batches, out of this check's sight; a second pass over a served
    * plan finds no registered base left to rewrite.)
    */
  def serving[T](s: SparkSession, name: String)(register: => Unit)(body: => T): T =
    try {
      register
      val live = s.experimental.extraOptimizations
      if (live.exists(_.isInstanceOf[MvRewrite])) body
      else {
        val rule = MvRewrite()
        s.experimental.extraOptimizations = live :+ rule
        try body
        finally s.experimental.extraOptimizations =
          s.experimental.extraOptimizations.filterNot(_ eq rule)
      }
    } finally MvRegistry.deregister(name)

  /** The root paths of every file scan in `df`'s optimized plan: what a
    * served query reads.
    */
  def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten

  // Re-entrancy latch for [[MvRewrite.tryCms]]'s expected-plan
  // construction: matching optimizes a REFERENCE `Cms.build` plan through
  // the session's own optimizer — which includes this rule — so without
  // the latch the reference plan could itself be rewritten to the store
  // and never equal the query's corpus-shaped subtree.
  private val inRule = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }
  private[plans] def reentrant: Boolean = inRule.get()
  private[plans] def latched[T](body: => T): T = {
    inRule.set(java.lang.Boolean.TRUE)
    try body finally inRule.set(java.lang.Boolean.FALSE)
  }
}

case class MvRewrite() extends Rule[LogicalPlan] {
  import MvRegistry._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvRegistry.isEmpty || MvRewrite.reentrant) plan
    else plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  /** The base relation beneath an optional stack of column-pruning
    * Projects and Filters, plus the conjunction of the Filter conditions
    * found on the way down (v2: a predicate on grouping keys commutes with
    * the rollup, so `WHERE lang = 'en' GROUP BY source` can serve from an
    * MV keyed (lang, source) by filtering the GROUP-sized MV instead of
    * the corpus; whether the collected condition qualifies is decided by
    * the caller against the matched MV's key set).
    */
  private def baseScan(
      p: LogicalPlan): Option[(LogicalRelation, Option[Expression])] =
    p match {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        Some((lr, None))
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        baseScan(c)
      case Filter(cond, c) =>
        baseScan(c).map { case (lr, inner) =>
          (lr, Some(inner.fold(cond)(And(cond, _))))
        }
      case _ => None
    }

  /** Tail match ANCHORED on a path-segment boundary: a registered tail
    * `sales` matches `.../sales` but never `.../whole_sales` — an
    * unanchored suffix would silently rewrite an aggregate over an
    * unrelated table to read the MV, breaking the "a miss means the
    * original plan runs, never a wrong answer" contract.
    */
  private def pathMatches(scanPath: String, tail: String): Boolean = {
    val p = scanPath.stripSuffix("/")
    val t = tail.stripSuffix("/").stripPrefix("/")
    p == t || p.endsWith("/" + t)
  }

  /** Does this scan belong to the registered anchor? Two spellings of the
    * same table must both hit: a path anchor matches the file scan's root
    * path ([[pathMatches]]), and a CATALOG anchor (a registered tail with
    * no '/', db-qualified at registration by [[MvRegistry]]) matches the
    * relation's FULLY QUALIFIED catalog identifier — so `spark.table(
    * "docs")` rewrites against an MV registered on `docs` in the same
    * database, while `somedb.docs` (a different table that merely shares
    * the name) never serves from it. A relation whose catalog identifier
    * carries no database cannot be verified and conservatively misses.
    */
  private def anchorMatches(lr: LogicalRelation, tail: String,
      catalogAnchor: Option[String]): Boolean = {
    val pathOk = lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.headOption.exists(p => pathMatches(p.toString, tail))
      case _ => false
    }
    pathOk || catalogAnchor.exists(q => lr.catalogTable.exists { ct =>
      ct.identifier.database.exists(db =>
        s"$db.${ct.identifier.table}".equalsIgnoreCase(q))
    })
  }

  /** A base-side Filter is servable from the MV iff it is deterministic,
    * subquery-free, and references ONLY MV grouping-key columns: such a
    * predicate partitions WHOLE groups, so filtering the group-sized view
    * is row-for-row identical to filtering the corpus before aggregating.
    * Anything else (a predicate on a measure column, a nondeterministic
    * rand() filter, a subquery) falls through to the original plan.
    */
  private def filterServable(cond: Expression, mvKeys: Set[String]): Boolean =
    cond.deterministic &&
      cond.references.forall(a => mvKeys.contains(a.name)) &&
      !cond.exists(_.isInstanceOf[PlanExpression[_]])

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val keyNames: Option[Seq[String]] =
      if (agg.groupingExpressions.forall(_.isInstanceOf[AttributeReference]))
        Some(agg.groupingExpressions.map(_.asInstanceOf[AttributeReference].name))
      else None
    keyNames.flatMap(keys => tryPlain(agg, keys).orElse(tryJoin(agg, keys))
      .orElse(tryKmv(agg, keys)).orElse(tryQuantile(agg, keys))
      .orElse(tryCms(agg, keys)))
  }

  /** The CMS serving arm: a query RE-STATING a registered sketch's build
    * — `Cms.build(base, keys', col(valueCol), depth, width)` for keys' ⊆
    * store keys — reads the stored (keys…, r, c, cnt) cells instead of
    * the corpus. Matching here is WHOLE-PLAN canonical equality: the
    * build is not a single aggregate call but an explode → seeded-hash →
    * group-count pipeline, so instead of pattern-matching its pieces, the
    * rule rebuilds the reference plan over the query's OWN scan relation
    * (same optimizer, [[MvRewrite.latched]] against re-entry) and
    * compares `canonicalized` forms — structurally exhaustive (any
    * deviation in geometry, hash seeds, value column, or key set makes
    * the canonical forms differ) and immune to alias/exprId spelling.
    * Serving: exact keys project the store; a proper subset re-aggregates
    * `sum(cnt)` by (keys', r, c) — the cell hash never involves the
    * grouping keys, so the rolled-up cells are bit-identical to the
    * direct coarser build, and downstream estimate probes compose
    * unchanged. Wrong geometry / value / keys falls through to the
    * original plan, never a wrong answer.
    */
  private def tryCms(agg: Aggregate, keys: Seq[String]): Option[LogicalPlan] = {
    if (MvRegistry.allCms.isEmpty) return None
    // cheap structural gate before the expensive reference-plan build:
    // grouping must end in the sketch's (r, c) cell coordinates
    if (!keys.contains("r") || !keys.contains("c")) return None
    val qKeys = keys.filterNot(k => k == "r" || k == "c")
    val leaves = agg.collect { case lr: LogicalRelation => lr }
    if (leaves.size != 1) return None
    val lr = leaves.head
    val spark = SparkSession.active
    MvRegistry.allCms.iterator.flatMap { cv =>
      if (!anchorMatches(lr, cv.basePathTail, cv.catalogAnchor) ||
          !qKeys.toSet.subsetOf(cv.keys.toSet)) None
      else {
        // An ENCLOSING operator may have pushed inferred null-guards on
        // the cell coordinates INTO the subtree (Cms.pointEstimate's
        // (r, c) equi-join infers `isnotnull(c)` beneath the aggregate),
        // so the reference plan is built in four spellings: bare, and
        // with each subset of {r, c} null-guarded — a guard on a
        // GROUPING column commutes with the rollup, so the served plan
        // re-applies it to the store's own column. Any other filter on
        // the BUILD output (a measure predicate) matches no variant and
        // falls through.
        import org.apache.spark.sql.functions.{col => fcol}
        val df = org.apache.spark.sql.GraftColumnBridge.ofRows(spark, lr)
        // The key-predicate COMMUTE arm (the one the plain/KMV/quantile
        // arms already have): a WHERE over the base commutes with the
        // sketch when it references only STORE KEY columns — such a
        // predicate selects whole key groups, a group's cells are
        // disjoint from every other group's, and the cell hash never
        // involves the keys, so filtering the stored cells by the same
        // predicate is bit-identical to building over the filtered
        // corpus. The predicate is read off the query's own scan (the
        // optimizer has pushed the user's WHERE there); anything not
        // key-only serves nothing — falls through, never a wrong answer.
        val scanFilter: Option[Expression] = agg.collectFirst {
          case Filter(cond, lr2: LogicalRelation) if lr2 eq lr => cond
        }
        val filteredDf = scanFilter match {
          case None => Some(df)
          case Some(cond) if filterServable(cond, cv.keys.toSet) =>
            Some(df.where(org.apache.spark.sql.GraftColumnBridge.column(cond)))
          case Some(_) => None
        }
        filteredDf.flatMap { fdf =>
        // the reference build is guard-independent — built ONCE, not per
        // null-guard variant (each variant still pays its own analyzer +
        // optimizer pass, but only until the first match; bare form first)
        val ref = graft.functions.Cms.build(fdf, qKeys,
          fcol(cv.valueCol), cv.depth, cv.width)
        val variants: Seq[Seq[String]] =
          Seq(Seq.empty, Seq("c"), Seq("r"), Seq("r", "c"))
        val matched = variants.iterator.flatMap { guards =>
          val guarded = guards.foldLeft(ref)((d, g) => d.where(fcol(g).isNotNull))
          val expected =
            MvRewrite.latched(guarded.queryExecution.optimizedPlan)
          if (expected.canonicalized == agg.canonicalized) Some(guards)
          else None
        }.nextOption()
        matched.flatMap { guards =>
          val scan = MvRegistry.serveRelation(spark, cv.mvPath, cv.fixed)
            .newInstance()
          def mvAttr(n: String): Attribute = scan.output.find(_.name == n).get
          val exact = qKeys.toSet == cv.keys.toSet
          // canonical equality pins the output ORDER to the build's
          // (keys'…, r, c, cnt), so serving maps store columns to the
          // query's outputs positionally — alias spellings are free
          val srcNames = qKeys ++ Seq("r", "c")
          // the key predicate lands DIRECTLY above the store scan: its
          // columns may include store keys the query rolled away, so it
          // must filter before the projection prunes them
          val filteredScan: LogicalPlan = scanFilter match {
            case Some(cond) => Filter(cond.transform {
              case a: AttributeReference => mvAttr(a.name)
            }, scan)
            case None => scan
          }
          val pruned: LogicalPlan =
            Project((srcNames :+ "cnt").map(mvAttr), filteredScan)
          val child: LogicalPlan = guards
            .map(g => IsNotNull(mvAttr(g)): Expression)
            .reduceOption(And).map(Filter(_, pruned)).getOrElse(pruned)
          val plan: LogicalPlan =
            if (exact) {
              val outputs = agg.output.zip(srcNames :+ "cnt").map {
                case (o, n) => Alias(mvAttr(n), o.name)(exprId = o.exprId)
              }
              Project(outputs, child)
            } else {
              val cell: Seq[Expression] = srcNames.map(mvAttr) :+
                Sum(mvAttr("cnt")).toAggregateExpression()
              val outputs = agg.output.zip(cell).map { case (o, e) =>
                Alias(e, o.name)(exprId = o.exprId)
              }
              Aggregate(srcNames.map(mvAttr), outputs, child)
            }
          val ok = plan.output.zip(agg.output).forall { case (n, o) =>
            n.dataType == o.dataType
          }
          if (ok) Some(plan) else None
        }
        }
      }
    }.nextOption()
  }

  private def tryPlain(agg: Aggregate, keys: Seq[String]): Option[LogicalPlan] =
    for {
      (lr, cond) <- baseScan(agg.child)
      // a join-MV must never claim a plain scan of its fact table alone —
      // the dim join can drop (or multiply) fact rows
      mv <- MvRegistry.all.find(m => m.join.isEmpty &&
        anchorMatches(lr, m.basePathTail, m.catalogAnchor) && keys.toSet.subsetOf(m.keys.toSet) &&
          cond.forall(c => filterServable(c, m.keys.toSet)))
      out <- rewriteWith(agg, keys, cond, mv)
    } yield out

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  /** Flatten a tree of INNER joins (under optional column-pruning Projects
    * and Filters) into its leaf scans and ONE conjunct pool holding every
    * join condition and filter predicate found anywhere in the tree —
    * inner joins commute and associate, and conjuncts float freely across
    * them, so matching the registered join SET against the pool is
    * order-insensitive by construction (a left-deep query and a bushy one
    * match the same view). Returns None on anything but inner joins over
    * plain scans.
    */
  private def flattenInner(
      p: LogicalPlan): Option[(Seq[LogicalRelation], Seq[Expression])] =
    p match {
      case j: Join if j.joinType == Inner =>
        for {
          (ll, lc) <- flattenInner(j.left)
          (rl, rc) <- flattenInner(j.right)
        } yield (ll ++ rl, lc ++ rc ++ j.condition.toSeq.flatMap(conjunctsOf))
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        flattenInner(c)
      case Filter(cond, c) =>
        flattenInner(c).map { case (ls, cs) => (ls, cs ++ conjunctsOf(cond)) }
      case other =>
        baseScan(other).map { case (lr, cond) =>
          (Seq(lr), cond.toSeq.flatMap(conjunctsOf))
        }
    }

  /** JOIN match (v4 — star, snowflake, composite keys): the aggregate's
    * child flattens to inner-join leaves whose anchors biject onto
    * {fact} ∪ dims, and whose attr=attr conjuncts are EXACTLY the
    * registered key pairs (as unordered name pairs — column names are
    * required unique join-wide, so a name pair pins both the columns and
    * their tables). IsNotNull guards on join keys are implied by the
    * materialized inner join and dropped; every remaining conjunct must
    * be key-servable. Any mismatch — a missing dim, an extra join, a
    * different key set — falls through to the original plan.
    */
  private def tryJoin(agg: Aggregate, keys: Seq[String]): Option[LogicalPlan] =
    for {
      (leaves, conjs) <- flattenInner(agg.child)
      if leaves.size >= 2
      allNames = leaves.flatMap(_.output.map(_.name))
      if allNames.distinct.size == allNames.size
      eqPairs = conjs.collect {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          Set(a.name, b.name)
      }
      rest = conjs.filterNot {
        case EqualTo(_: AttributeReference, _: AttributeReference) => true
        case _ => false
      }
      (mv, residual) <- MvRegistry.all.iterator.flatMap { m =>
        m.join.flatMap { jd =>
          val reqPairs = jd.dims.flatMap(_.keys)
            .map { case (a, b) => Set(a, b) }.toSet
          val joinKeyNames = reqPairs.flatten
          val residualConjs = rest.filterNot {
            case IsNotNull(a: AttributeReference) => joinKeyNames.contains(a.name)
            case _ => false
          }
          val factLeaves = leaves.filter(anchorMatches(_, m.basePathTail, m.catalogAnchor))
          val dimLeaves = leaves.filterNot(factLeaves.contains)
          val leavesOk = factLeaves.size == 1 &&
            dimLeaves.size == jd.dims.size &&
            jd.dims.forall(dd =>
              dimLeaves.count(anchorMatches(_, dd.dimPathTail, dd.catalogAnchor)) == 1) &&
            dimLeaves.forall(l =>
              jd.dims.count(dd => anchorMatches(l, dd.dimPathTail, dd.catalogAnchor)) == 1)
          if (leavesOk && eqPairs.toSet == reqPairs &&
              keys.toSet.subsetOf(m.keys.toSet) &&
              residualConjs.forall(c => filterServable(c, m.keys.toSet)))
            Some((m, residualConjs.reduceOption(And)))
          else None
        }
      }.nextOption()
      out <- rewriteWith(agg, keys, residual, mv)
    } yield out

  /** DISTINCT-COUNT match: the one aggregate class [[fnOf]] deliberately
    * rejects (`isDistinct`), served from a registered KMV sketch store.
    * Two servable spellings over the base table, grouped by the store's
    * keys or any SUBSET of them (sketches are mergeable: the rollup arm
    * re-aggregates the group-sized store with [[graft.functions
    * .KmvMergeAgg]], and bottom-k-of-union-of-bottom-ks equals the
    * direct coarser sketch bit-for-bit; the exact-distinct arm below is
    * exact-match only):
    *
    *  - `graft_kmv(hash64(valueCol), k)` (the [[graft.functions.Kmv
    *    .bottomK]] aggregate): served as the stored sketch column — every
    *    downstream estimate/size/xor projection composes unchanged via
    *    preserved exprIds. The hash expression is matched SEMANTICALLY:
    *    the rule re-analyzes `hash64(valueCol)` against this plan's own
    *    attributes (LocalRelation keeps exprIds) and requires
    *    `semanticEquals` — `graft_kmv(hash64(concat(v, 'x')), k)` or a
    *    different k falls through.
    *  - `count(DISTINCT valueCol)`: served as `size(kmv)` ONLY when the
    *    store was registered `serveExactDistinct` — the registrant's
    *    contract that every group is underfull (distinct < k), where the
    *    bottom-k set is the complete distinct-hash set and its size the
    *    exact answer.
    *
    * Key-only WHERE predicates commute exactly as in the rollup arms.
    * Type note: parquet reads the sketch as array<bigint> with nullable
    * elements while KmvAgg declares them non-null; content is identical
    * (the sketch never stores nulls), so the bail-out compares types
    * ignoring nullability here.
    */
  private def tryKmv(agg: Aggregate, keys: Seq[String]): Option[LogicalPlan] =
    for {
      (lr, cond) <- baseScan(agg.child)
      kv <- MvRegistry.allKmv.find(v => anchorMatches(lr, v.basePathTail, v.catalogAnchor) &&
        keys.toSet.subsetOf(v.keys.toSet) &&
        cond.forall(c => filterServable(c, v.keys.toSet)))
      out <- rewriteKmv(agg, keys, cond, kv)
    } yield out

  private def rewriteKmv(agg: Aggregate, keys: Seq[String],
      cond: Option[Expression], kv: KmvDef): Option[LogicalPlan] = {
    import graft.functions.KmvAgg
    val spark = SparkSession.active
    agg.child.output.find(_.name == kv.valueCol).flatMap { _ =>
      // the exact hash expression viewKmv sketches, ANALYZED against this
      // plan's own attributes: LocalRelation(agg.child.output) reuses the
      // attribute objects, so exprIds line up and semanticEquals is direct
      val expected = org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
            agg.child.output))
        .select(graft.functions.TextFunctions.hash64(
          org.apache.spark.sql.functions.col(kv.valueCol)))
        .queryExecution.analyzed match {
          case Project(Seq(Alias(c, _)), _) => Some(c)
          case Project(Seq(e), _) => Some(e: Expression)
          case _ => None
        }
      expected.flatMap { expectedHash =>
        val scan = MvRegistry.serveRelation(spark, kv.mvPath, kv.fixed)
          .newInstance()
        def mvAttr(n: String): Attribute = scan.output.find(_.name == n).get
        val remappedCond = cond.map(_.transform {
          case a: AttributeReference => mvAttr(a.name)
        })
        val exact = keys.toSet == kv.keys.toSet
        // the serving expression for one aggregate CALL — which may sit
        // NESTED inside a scalar expression (CollapseProject folds a
        // single-use projection like size(kmv) into the aggregate list),
        // so outputs are rewritten by transforming every call in place.
        // Rollup (proper subset of store keys): the stored finer-grained
        // sketches MERGE via [[graft.functions.KmvMergeAgg]] — bottom-k of
        // a union of bottom-ks is the union's bottom-k, so the served
        // sketch is bit-identical to a direct coarser aggregate. The
        // exact-distinct arm stays EXACT-MATCH ONLY: per-group underfull
        // (the serveExactDistinct contract) does not bound the UNION's
        // cardinality, so a merged size(kmv) could silently truncate at k.
        def serveAgg(ae: AggregateExpression): Option[Expression] =
          if (ae.filter.nonEmpty) None
          else ae.aggregateFunction match {
            case ka: KmvAgg if !ae.isDistinct && ka.k == kv.k &&
                ka.hash.semanticEquals(expectedHash) =>
              Some(if (exact) mvAttr("kmv")
                else graft.functions.KmvMergeAgg(kv.k, mvAttr("kmv"))
                  .toAggregateExpression())
            case Count(Seq(a: AttributeReference))
                if ae.isDistinct && kv.serveExactDistinct && exact &&
                  a.name == kv.valueCol =>
              Some(Cast(Size(mvAttr("kmv")),
                org.apache.spark.sql.types.LongType))
            case _ => None
          }
        val mapped: Seq[Option[NamedExpression]] =
          agg.aggregateExpressions.map {
            case a: AttributeReference if keys.contains(a.name) =>
              Some(Alias(mvAttr(a.name), a.name)(exprId = a.exprId))
            case al @ Alias(child, name) =>
              var ok = true
              // transformUp for the same reason as the rollup arms: never
              // re-match a serving expression's own internals
              val replaced = child.transformUp {
                case ae: AggregateExpression =>
                  serveAgg(ae).getOrElse { ok = false; ae }
                case a: AttributeReference if keys.contains(a.name) =>
                  mvAttr(a.name)
              }
              // every remaining reference must be a store column — a leak
              // of any base attribute means the expression wasn't fully
              // served and the rewrite must not fire
              if (ok && replaced.references.forall(r =>
                  scan.output.exists(_.exprId == r.exprId)))
                Some(Alias(replaced, name)(exprId = al.exprId))
              else None
            case _ => None
          }
        if (mapped.exists(_.isEmpty)) None
        else {
          val outputs = mapped.map(_.get)
          val keyAttrs = if (exact) Seq.empty[Attribute] else keys.map(mvAttr)
          val used = (outputs.flatMap(_.references) ++ keyAttrs ++
            remappedCond.toSeq.flatMap(_.references)).map(_.exprId).toSet
          val prunedScan: LogicalPlan =
            if (scan.output.forall(a => used.contains(a.exprId))) scan
            else Project(scan.output.filter(a => used.contains(a.exprId)), scan)
          val child =
            remappedCond.map(Filter(_, prunedScan)).getOrElse(prunedScan)
          val plan =
            if (exact) Project(outputs, child)
            else Aggregate(keys.map(mvAttr), outputs, child)
          val ok = plan.output.zip(agg.output).forall { case (n, o) =>
            sameTypeIgnoreNullability(n.dataType, o.dataType)
          }
          if (ok) Some(plan) else None
        }
      }
    }
  }

  /** The quantile-sketch serving arm: a query re-stating the store's
    * exact aggregate — `QSketchAgg(k, hash64(idCol), cast(valueCol as
    * double))` grouped by the store's keys or any subset — reads the
    * stored k-sized sketches instead of the corpus. Exact keys project;
    * subset keys merge via [[graft.functions.QSketchMergeAgg]] (one
    * plain Aggregate over |fine groups| rows — bit-exact per the
    * bottom-k union identity, so scalar expressions AROUND the call,
    * e.g. a quantile estimate over the sketch, are preserved verbatim
    * and see identical inputs).
    */
  private def tryQuantile(agg: Aggregate,
      keys: Seq[String]): Option[LogicalPlan] =
    for {
      (lr, cond) <- baseScan(agg.child)
      qv <- MvRegistry.allQsk.find(v =>
        anchorMatches(lr, v.basePathTail, v.catalogAnchor) &&
        keys.toSet.subsetOf(v.keys.toSet) &&
        cond.forall(c => filterServable(c, v.keys.toSet)))
      out <- rewriteQsk(agg, keys, cond, qv)
    } yield out

  private def rewriteQsk(agg: Aggregate, keys: Seq[String],
      cond: Option[Expression], qv: QskDef): Option[LogicalPlan] = {
    import graft.functions.{QSketchAgg, QSketchMergeAgg}
    val spark = SparkSession.active
    if (!agg.child.output.exists(_.name == qv.idCol) ||
        !agg.child.output.exists(_.name == qv.valueCol)) return None
    // the exact (hash, value) expression pair viewQuantile aggregates,
    // ANALYZED against this plan's own attributes (same exprId trick as
    // the KMV arm: LocalRelation(agg.child.output) reuses the objects)
    val expected = org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
          agg.child.output))
      .select(graft.functions.TextFunctions.hash64(
          org.apache.spark.sql.functions.col(qv.idCol)),
        org.apache.spark.sql.functions.col(qv.valueCol).cast("double"))
      .queryExecution.analyzed match {
        case Project(Seq(e1, e2), _) =>
          def strip(e: NamedExpression): Expression = e match {
            case Alias(c, _) => c
            case x => x
          }
          Some((strip(e1), strip(e2)))
        case _ => None
      }
    expected.flatMap { case (expectedHash, expectedValue) =>
      val scan = MvRegistry.serveRelation(spark, qv.mvPath, qv.fixed)
        .newInstance()
      def mvAttr(n: String): Attribute = scan.output.find(_.name == n).get
      val remappedCond = cond.map(_.transform {
        case a: AttributeReference => mvAttr(a.name)
      })
      val exact = keys.toSet == qv.keys.toSet
      // the rule sees the OPTIMIZED plan: when valueCol is already a
      // double, SimplifyCasts strips the bottomK builder's no-op cast,
      // so the bare attribute is an equally valid spelling
      val expectedValueBare =
        agg.child.output.find(_.name == qv.valueCol)
      def valueMatches(e: Expression): Boolean =
        e.semanticEquals(expectedValue) ||
          expectedValueBare.exists(e.semanticEquals)
      def serveAgg(ae: AggregateExpression): Option[Expression] =
        if (ae.filter.nonEmpty || ae.isDistinct) None
        else ae.aggregateFunction match {
          case qa: QSketchAgg if qa.k == qv.k &&
              qa.hash.semanticEquals(expectedHash) &&
              valueMatches(qa.value) =>
            Some(if (exact) mvAttr("qsk")
              else QSketchMergeAgg(qv.k, mvAttr("qsk"))
                .toAggregateExpression())
          case _ => None
        }
      val mapped: Seq[Option[NamedExpression]] =
        agg.aggregateExpressions.map {
          case a: AttributeReference if keys.contains(a.name) =>
            Some(Alias(mvAttr(a.name), a.name)(exprId = a.exprId))
          case al @ Alias(child, name) =>
            var ok = true
            val replaced = child.transformUp {
              case ae: AggregateExpression =>
                serveAgg(ae).getOrElse { ok = false; ae }
              case a: AttributeReference if keys.contains(a.name) =>
                mvAttr(a.name)
            }
            if (ok && replaced.references.forall(r =>
                scan.output.exists(_.exprId == r.exprId)))
              Some(Alias(replaced, name)(exprId = al.exprId))
            else None
          case _ => None
        }
      if (mapped.exists(_.isEmpty)) None
      else {
        val outputs = mapped.map(_.get)
        val keyAttrs = if (exact) Seq.empty[Attribute] else keys.map(mvAttr)
        val used = (outputs.flatMap(_.references) ++ keyAttrs ++
          remappedCond.toSeq.flatMap(_.references)).map(_.exprId).toSet
        val prunedScan: LogicalPlan =
          if (scan.output.forall(a => used.contains(a.exprId))) scan
          else Project(scan.output.filter(a => used.contains(a.exprId)), scan)
        val child =
          remappedCond.map(Filter(_, prunedScan)).getOrElse(prunedScan)
        val plan =
          if (exact) Project(outputs, child)
          else Aggregate(keys.map(mvAttr), outputs, child)
        val typesOk = plan.output.zip(agg.output).forall { case (n, o) =>
          sameTypeIgnoreNullability(n.dataType, o.dataType)
        }
        if (typesOk) Some(plan) else None
      }
    }
  }

  /** Structural type equality that ignores nullability at every nesting
    * level — the sketch-serving arm's bail-out comparator (see
    * [[tryKmv]]'s type note).
    */
  private def sameTypeIgnoreNullability(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (ArrayType(ae, _), ArrayType(be, _)) =>
        sameTypeIgnoreNullability(ae, be)
      case (MapType(ak, av, _), MapType(bk, bv, _)) =>
        sameTypeIgnoreNullability(ak, bk) && sameTypeIgnoreNullability(av, bv)
      case (StructType(af), StructType(bf)) =>
        af.length == bf.length && af.zip(bf).forall { case (x, y) =>
          x.name == y.name && sameTypeIgnoreNullability(x.dataType, y.dataType)
        }
      case _ => a == b
    }
  }

  /** (fn, inputCol) of a supported aggregate call, or None. `count` with
    * an input column is the NON-NULL count (count(v)), distinct from the
    * row count (count(1)/count(*)) — avg rewrites pair with the former so
    * null semantics survive.
    */
  private def fnOf(e: AggregateExpression): Option[(String, Option[String])] =
    if (e.isDistinct || e.filter.nonEmpty) None
    else e.aggregateFunction match {
      case Sum(a: AttributeReference, _)     => Some(("sum", Some(a.name)))
      case Min(a: AttributeReference)        => Some(("min", Some(a.name)))
      case Max(a: AttributeReference)        => Some(("max", Some(a.name)))
      case Average(a: AttributeReference, _) => Some(("avg", Some(a.name)))
      case Count(es) if es.forall(_.isInstanceOf[Literal]) =>
        Some(("count", None))
      case Count(Seq(a: AttributeReference)) => Some(("count", Some(a.name)))
      case _ => None
    }

  private def rewriteWith(agg: Aggregate, keys: Seq[String],
      cond: Option[Expression], mv: MvDef): Option[LogicalPlan] = {
    // resolve the CURRENT version (version-stamped stores) or the fixed
    // capture; fresh exprIds per use so two rewrites never collide
    val scan = MvRegistry.currentRelation(SparkSession.active, mv).newInstance()
    def mvAttr(n: String): Attribute = scan.output.find(_.name == n).get
    // the key-only base predicate, re-rooted onto the MV scan's attributes
    val remappedCond = cond.map(_.transform {
      case a: AttributeReference => mvAttr(a.name)
    })
    val exact = keys.toSet == mv.keys.toSet
    // a stored total, at the right granularity for the arm in play
    def tot(d: AggDef): Expression = {
      val src = mvAttr(d.outName)
      if (exact) src
      else d.fn match {
        // rollup re-aggregation: partial counts/sums SUM. A count
        // rollup is Coalesce'd to 0: a GLOBAL (no GROUP BY) count
        // over zero matching MV groups must return 0 exactly like
        // Count over an empty corpus — bare Sum would return NULL,
        // a silent wrong answer (grouped rollups never hit the
        // fallback: a group row implies ≥1 non-null partial count).
        // sum/min/max/avg keep NULL-on-empty, matching the original.
        case "count" => Coalesce(Seq(
          Sum(src).toAggregateExpression(), Literal(0L)))
        case "sum"   => Sum(src).toAggregateExpression()
        case "min"   => Min(src).toAggregateExpression()
        case "max"   => Max(src).toAggregateExpression()
      }
    }
    // the serving expression for ONE aggregate call (which may sit nested
    // inside a scalar wrapper — CollapseProject folds single-use
    // projections like round(sum(v), 4) into the aggregate list)
    def serveAgg(ae: AggregateExpression): Option[Expression] =
      fnOf(ae).flatMap {
        case ("avg", in) =>
          // avg = stored sum / NULL-CONSISTENT count: prefer a declared
          // count(v); a row count only substitutes when v can't be null.
          // Double caveat: totals beyond 2^53 can differ from running-
          // mean accumulation in the last bit — no worse than Spark's
          // own shuffle-order-dependent double aggregation.
          val cntDef = mv.aggs.find(d => d.fn == "count" && d.inputCol == in)
            .orElse(mv.aggs.find(d => d.fn == "count" && d.inputCol.isEmpty)
              .filter(_ => agg.child.output
                .exists(a => in.contains(a.name) && !a.nullable)))
          for {
            sumDef <- mv.aggs.find(d => d.fn == "sum" && d.inputCol == in)
            c <- cntDef
          } yield Divide(Cast(tot(sumDef), DoubleType),
            Cast(tot(c), DoubleType))
        case (fn, in) =>
          mv.aggs.find(d => d.fn == fn && d.inputCol == in).map(d => tot(d))
      }
    // map every output of the original aggregate: aggregate calls are
    // replaced IN PLACE wherever they appear, grouping-key references
    // re-root onto the MV scan, and any leaked base reference vetoes
    val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if keys.contains(a.name) =>
        Some(Alias(mvAttr(a.name), a.name)(exprId = a.exprId))
      case al @ Alias(child, name) =>
        var ok = true
        // transformUp, NOT transform: serving expressions may themselves
        // contain fresh AggregateExpressions (Sum-of-partials under a
        // Coalesce/Divide), and a top-down transform would re-match those
        // descendants and veto its own replacement
        val replaced = child.transformUp {
          case ae: AggregateExpression =>
            serveAgg(ae).getOrElse { ok = false; ae }
          case a: AttributeReference if keys.contains(a.name) =>
            mvAttr(a.name)
        }
        if (ok && replaced.references.forall(r =>
            scan.output.exists(_.exprId == r.exprId)))
          Some(Alias(replaced, name)(exprId = al.exprId))
        else None
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) None
    else {
      val outputs = mapped.map(_.get)
      // prune the scan to the columns the outputs, grouping keys, and
      // filter actually touch: this rule runs AFTER the main optimizer's
      // ColumnPruning batch, so nothing downstream will — without it a
      // wide MV (many declared measures) would read every measure column
      // for a one-measure query
      val keyAttrs = if (exact) Seq.empty[Attribute] else keys.map(mvAttr)
      val used = (outputs.flatMap(_.references) ++ keyAttrs ++
        remappedCond.toSeq.flatMap(_.references)).map(_.exprId).toSet
      val prunedScan: LogicalPlan =
        if (scan.output.forall(a => used.contains(a.exprId))) scan
        else Project(scan.output.filter(a => used.contains(a.exprId)), scan)
      val child = remappedCond.map(Filter(_, prunedScan)).getOrElse(prunedScan)
      val plan =
        if (exact) Project(outputs, child)
        else Aggregate(keys.map(mvAttr), outputs, child)
      // type change would corrupt downstream codegen — bail, never guess
      val ok = plan.output.zip(agg.output).forall { case (n, o) =>
        n.dataType == o.dataType
      }
      if (ok) Some(plan) else None
    }
  }
}
