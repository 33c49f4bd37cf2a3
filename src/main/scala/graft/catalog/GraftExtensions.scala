package graft.catalog

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import graft.table.GraftTable

/** Analyzer integration for graft catalog names.
  *
  * [[GraftCatalog.loadTable]] gives every `graft.<ns>.<table>` reference a
  * real DSv2 [[GraftSparkTable]]; writes (`df.writeTo(...).append()`,
  * `INSERT INTO`) flow through its SupportsWrite as vanilla Spark plans.
  * For READS this rule swaps the resolved relation for the analyzed plan
  * of [[GraftTable.dfAt]] — the same snapshot-to-plan builder `toDF`
  * uses: one parquet relation over every data dir (explicit read schema,
  * `recursiveFileLookup`, so no schema-inference job and no partition
  * discovery) and one over every delete file, with the version-guarded
  * anti-join. Scans stay vectorized multi-path parquet reads with full
  * filter/column pushdown — strictly better than funnelling rows through
  * the table's V1Scan fallback. Iceberg wires its analyzer extensions
  * the same way.
  *
  * ExprId stability: by the time this rule runs, parent operators may
  * already reference the relation's output attributes, so the substituted
  * plan must expose the SAME exprIds. The placeholder holds the original
  * output; a projection aliases the substituted plan's columns back onto
  * the original attribute ids.
  *
  * Install at session build time:
  * {{{
  *   spark.sql.extensions = graft.catalog.GraftSparkSessionExtensions
  *   spark.sql.catalog.graft = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  */
case class ResolveGraftTables(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Relations in WRITE position keep the DSv2 table: AppendData /
    // OverwriteByExpression plan against SupportsWrite, and row-level
    // commands must fail with Spark's own "not supported" guidance
    // (GraftSql is the engine's row-level SQL front).
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => strip(c)
      case other => other
    }
    plan.foreach {
      case c: V2WriteCommand        => writeTargets.add(strip(c.table))
      case i: InsertIntoStatement   => writeTargets.add(strip(i.table))
      case d: DeleteFromTable       => writeTargets.add(strip(d.table))
      case u: UpdateTable           => writeTargets.add(strip(u.table))
      case m: MergeIntoTable        => writeTargets.add(strip(m.targetTable))
      case _ =>
    }
    // With V2 bucketing enabled, SPJ-shaped tables KEEP their DSv2
    // relation: the partition-reporting GraftBucketedScan is what makes
    // co-bucketed joins shuffle-free, and it matches the view path on
    // pushdown (same parquet reader function). Everything else gets the
    // `dfAt` plan swap. Every check and the swap read the table's one
    // snapshot (GraftSparkTable.snapshot), however often the analyzer
    // iterates.
    val spjOn = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
      .contains("true")
    // An unresolved `_file`/`_pos` reference anywhere means Spark's
    // AddMetadataColumns still has to widen the relation output — swap
    // too early and the metadata column can never resolve. Defer one
    // fixpoint round; the post-widening swap synthesizes `_file` below.
    val pendingMetaRef = plan.exists(p => !p.resolved && p.expressions.exists(_.exists {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.nameParts.last.equalsIgnoreCase(GraftMetaCols.FILE) ||
          u.nameParts.last.equalsIgnoreCase(GraftMetaCols.POS)
      case _ => false
    }))
    // metadata-only aggregates: a bare, unfiltered COUNT(*) folds to the
    // snapshot log's dir row counts (captured by Observation during every
    // write), and MIN/MAX on a declared stats column folds from the
    // per-dir bounds sidecars (min of mins / max of maxes). Sound only
    // when every dir has the recorded stat and no equality deletes are
    // pending; anything else scans normally. At 100 TB this answers
    // `SELECT count(*), min(ts), max(ts)` without touching a file — the
    // role Iceberg's manifest stats play. TOP-DOWN and before the view
    // swap: bottom-up would replace the relation under the Aggregate.
    val counted = plan.resolveOperatorsDown {
      // transparent aggregate-MV rewrite: a `GROUP BY g` aggregate over a
      // base table that REGISTERED a maintained MV (GraftTable.registerMv
      // + StreamOps.applyMvDeltas) is served from the MV table when the
      // MV's freshness stamp proves no content-changing base commit
      // postdates it — the serving half of the incremental-MV loop. At
      // 100 TB this answers the rollup from the MV's O(groups) rows
      // instead of scanning the base; staleness, time travel, shape or
      // type mismatch all fall through to the normal scan, so the rewrite
      // is never load-bearing for correctness.
      case agg @ Aggregate(groupExprs, _, child, _)
          if agg.resolved && groupExprs.nonEmpty &&
            GraftCountFold.relationOf(child, writeTargets).isDefined =>
        GraftMvRewrite.rewrite(spark, agg,
          GraftCountFold.relationOf(child, writeTargets).get)
          .orElse(GraftPartitionFold.fold(agg, writeTargets))
          .getOrElse(agg)
      // partition-count folds under a partition-equality Filter (grouped
      // or global): `count(*) WHERE p = …` / `GROUP BY p` answered from
      // the per-leaf pstats sidecars — Iceberg's manifest-summary role
      case agg @ Aggregate(_, _, f: Filter, _)
          if agg.resolved &&
            GraftCountFold.relationOf(f.child, writeTargets).isDefined =>
        GraftPartitionFold.fold(agg, writeTargets).getOrElse(agg)
      case agg @ Aggregate(Nil, aggExprs, child, _)
          if agg.resolved && aggExprs.nonEmpty &&
            aggExprs.forall(e => GraftCountFold.foldKind(e).isDefined) &&
            GraftCountFold.relationOf(child, writeTargets).isDefined =>
        GraftCountFold.relationOf(child, writeTargets).flatMap { gst =>
          val snap = gst.snapshot
          if (snap.deletes.nonEmpty) None
          else {
            val vals: Seq[Option[Any]] = aggExprs.map(e =>
              GraftCountFold.foldKind(e).get match {
                case GraftCountFold.CountStar =>
                  if (snap.dataDirs.forall(_.rowCount >= 0L))
                    Some(snap.dataDirs.map(_.rowCount).sum)
                  else None
                case GraftCountFold.CountCol(column) =>
                  gst.graftTable.globalNonNullCount(snap, column)
                    .map(_.asInstanceOf[Any])
                case GraftCountFold.SumCol(column) =>
                  gst.graftTable.globalSum(snap, column)
                case GraftCountFold.MinMax(column, isMin) =>
                  gst.graftTable.globalBound(snap, column, isMin)
              })
            if (vals.forall(_.isDefined))
              Some(LocalRelation(agg.output.map(_.toAttribute),
                Seq(org.apache.spark.sql.catalyst.InternalRow(vals.map(_.get): _*))))
            else None
          }
        }.getOrElse(agg)
    }
    counted.resolveOperatorsUp {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftSparkTable] && !writeTargets.contains(r) &&
            !pendingMetaRef =>
        val gst = r.table.asInstanceOf[GraftSparkTable]
        val snap = gst.snapshot
        // metadata columns (`_file`) resolve against the relation's
        // metadataOutput without widening its output — a referenced one
        // means the relation must KEEP its DSv2 scan (the flat Batch scan
        // stamps real file paths and applies deletes reader-side; the
        // view's input_file_name would be illegal past its multi-source
        // union/anti-join shape)
        val usesMeta = r.metadataOutput.exists(m =>
          plan.exists(p => p.expressions.exists(_.exists {
            // resolved references only — an UnresolvedAttribute is an
            // Attribute too, and .exprId on it throws
            case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
              a.exprId == m.exprId
            case _ => false
          })))
        if (usesMeta || gst.keepScan) r
        else if (spjOn && !gst.pinned && GraftSparkTable.spjEligible(snap)) r
        // pending POSITION deletes key on the reader-stamped (_file, _pos)
        // identity — only the DSv2 reader stamps it; keep that scan, whose
        // delete-aware reader applies them
        else if (snap.deletes.exists(_.keys == graft.table.GraftTable.PosDeleteKeys)) r
        else GraftViewPlaceholder(r.output, gst.graftTable.dfAt(snap).queryExecution.analyzed)
      case h: GraftViewPlaceholder if h.child.resolved =>
        // rebind by NAME, not position: h.output and the plan come from
        // the same snapshot, but positional zip would silently mislabel
        // columns if they ever diverged; a missing name fails loudly
        val byName = h.child.output.map(a => a.name.toLowerCase -> a).toMap
        val aliased: Seq[NamedExpression] = h.output.map { o =>
          byName.get(o.name.toLowerCase) match {
            case Some(c) =>
              val e = if (c.dataType == o.dataType) c else Cast(c, o.dataType)
              Alias(e, o.name)(exprId = o.exprId)
            case None if o.name == GraftMetaCols.FILE =>
              // `_file` metadata column on the view path: the file feeding
              // the row (exact for direct scans; empty past a shuffled
              // anti-join stage — large delete sets — a documented limit)
              Alias(org.apache.spark.sql.catalyst.expressions.InputFileName(), o.name)(
                exprId = o.exprId)
            case None =>
              throw new IllegalStateException(
                s"column ${o.name} disappeared from the table view during analysis " +
                  "(concurrent schema change); re-run the query")
          }
        }
        Project(aliased, h.child)
    }
  }
}

/** Transparent aggregate-MV rewrite (the SERVING half of the
  * incremental-MV loop; [[graft.streaming.StreamOps.applyMvDeltas]] is
  * the maintenance half).
  *
  * A base table registers an MV via [[GraftTable.registerMv]]
  * (`graft.mv.<name>` -> `dir=…;group=…;value=…` in its properties).
  * The MV table holds one row per group — `(g, n, nn, total)` where `n`
  * = COUNT(*), `nn` = COUNT(value), `total` = SUM(value) as
  * DECIMAL(28,2), folded incrementally from the base's changelog — and
  * carries [[GraftTable.MvBaseVersionProp]], stamped atomically with
  * every fold commit.
  *
  * Rewrite fires only when ALL hold (anything else falls through to the
  * base scan, so the rule is never load-bearing):
  *  - the aggregate groups by exactly the registered column tuple
  *    (order-free, plain attributes) over the bare relation — no filter
  *    under it;
  *  - every output is a grouping column, `count(*)` (-> n),
  *    `count(value)` (-> nn), or `sum(value)` (non-distinct,
  *    unfiltered), with output types EQUAL to the MV column types —
  *    equality (not castability) keeps served values bit-identical to a
  *    recompute;
  *  - the MV has the `nn` column: SQL's `sum` over an all-NULL group is
  *    NULL, which `total` alone (an exact 0) cannot distinguish — the
  *    rewrite serves `IF(nn = 0, NULL, total)`;
  *  - the freshness stamp covers the base's current version: equal, or
  *    every later base commit's op is content-preserving
  *    ([[GraftTable.ContentPreservingOps]] — property/layout metadata
  *    and file reorganizations; a bounded walk, stale past 32 versions);
  *  - no time travel on the base relation, no positional deletes pending
  *    on the MV (their row identity needs the DSv2 reader).
  *
  * The substituted subtree is the analyzed [[GraftTable.dfAt]] plan of
  * the MV (equality deletes applied — the MV is MoR-maintained), aliased
  * onto the aggregate's output names; [[GraftViewPlaceholder]] then rebinds
  * the resolved columns onto the original exprIds, exactly like the
  * relation swap. Kill switch: `spark.graft.mv.rewrite.enabled=false`. */
private[catalog] object GraftMvRewrite {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
  import org.apache.spark.sql.functions.{lit, when}
  import org.apache.spark.sql.types.{DataType, LongType}

  private val MaxFreshnessWalk = 32

  private sealed trait Served
  /** A grouping column, by its registered (= MV) column name. */
  private final case class GroupKey(mvCol: String) extends Served
  private case object CountAll extends Served   // count(*) -> n
  private case object CountValue extends Served // count(value) -> nn
  private case object SumValue extends Served   // sum(value) -> IF(nn=0, NULL, total)

  def rewrite(spark: SparkSession, agg: Aggregate,
              gst: GraftSparkTable): Option[LogicalPlan] = {
    if (!spark.conf.get("spark.graft.mv.rewrite.enabled", "true").toBoolean)
      return None
    if (gst.pinned || gst.keepScan) return None
    val snap = gst.snapshot
    val regs = snap.properties.iterator.collect {
      case (k, v) if k.startsWith(GraftTable.MvRegistrationPrefix) &&
        k != GraftTable.MvBaseVersionProp => v
    }.toSeq.sorted // deterministic order when several MVs are registered
    if (regs.isEmpty) return None
    // attribute-only grouping (any arity); duplicate output names would
    // collapse in the placeholder's by-name rebind
    val gAttrs: Seq[AttributeReference] = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    if (gAttrs.isEmpty || gAttrs.map(_.exprId).distinct.size != gAttrs.size)
      return None
    val names = agg.output.map(_.name.toLowerCase)
    if (names.distinct.size != names.size) return None
    regs.view.flatMap(tryServe(spark, agg, gst, snap.version, gAttrs, _)).headOption
  }

  private def tryServe(spark: SparkSession, agg: Aggregate, gst: GraftSparkTable,
                       baseVersion: Int, gAttrs: Seq[AttributeReference],
                       reg: String): Option[LogicalPlan] = {
    val kv = reg.split(';').iterator.map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    val (mvDir, groupCols, valueCol) =
      (kv.get("dir"), kv.get("group"), kv.get("value")) match {
        case (Some(d), Some(g), Some(v)) => (d, g.split(',').toSeq, v)
        case _ => return None // malformed registration: never serve from it
      }
    val resolver = spark.sessionState.conf.resolver
    // the query's grouping attrs must be EXACTLY the registered tuple
    // (order-free): each attr matches one registered column and both
    // sides are exhausted
    if (gAttrs.size != groupCols.size) return None
    val attrToMvCol: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String] =
      gAttrs.map { a =>
        groupCols.find(resolver(a.name, _)) match {
          case Some(c) => a.exprId -> c
          case None => return None
        }
      }.toMap
    if (attrToMvCol.values.toSeq.distinct.size != groupCols.size) return None
    // classify every output BEFORE any MV metadata I/O
    val served: Seq[(NamedExpression, Served)] = agg.aggregateExpressions.map { ne =>
      val e = ne match { case Alias(c, _) => c; case other => other }
      val kind: Option[Served] = e match {
        case a: AttributeReference if attrToMvCol.contains(a.exprId) =>
          Some(GroupKey(attrToMvCol(a.exprId)))
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case _ if GraftCountFold.foldKind(ne).contains(GraftCountFold.CountStar) =>
              Some(CountAll)
            case Count(Seq(a: AttributeReference)) if resolver(a.name, valueCol) =>
              Some(CountValue)
            case Sum(a: AttributeReference, _) if resolver(a.name, valueCol) =>
              Some(SumValue)
            case _ => None
          }
        case _ => None
      }
      kind match { case Some(k) => ne -> k; case None => return None }
    }
    // MV metadata: schema + freshness (driver file reads, no Spark jobs)
    val mvT = try GraftTable.load(spark, mvDir) catch { case _: Exception => return None }
    val mvSnap = mvT.snapshot
    if (mvSnap.deletes.exists(_.keys == GraftTable.PosDeleteKeys)) return None
    val mvTypes: Map[String, DataType] =
      mvSnap.schema.fields.map(f => f.name -> f.dataType).toMap
    val totalType = mvTypes.getOrElse("total", return None)
    if (!mvTypes.get("n").contains(LongType) ||
        !mvTypes.get("nn").contains(LongType)) return None
    val gTypeOk = gAttrs.forall(a =>
      mvTypes.get(attrToMvCol(a.exprId)).contains(a.dataType))
    if (!gTypeOk) return None
    val typesOk = served.forall { case (ne, k) => k match {
      case GroupKey(c) => mvTypes.get(c).contains(ne.dataType)
      case CountAll | CountValue => ne.dataType == LongType
      case SumValue => ne.dataType == totalType
    }}
    if (!typesOk) return None
    if (!isFresh(gst, baseVersion, mvSnap.properties)) return None
    // serve: alias the MV's columns onto the aggregate's output names;
    // the placeholder rebind then restores the original exprIds
    val mv = mvT.dfAt(mvSnap)
    val items = served.map { case (ne, k) =>
      val c = k match {
        case GroupKey(g) => mv(s"`${g.replace("`", "``")}`")
        case CountAll => mv("n")
        case CountValue => mv("nn")
        case SumValue =>
          when(mv("nn") === 0, lit(null).cast(totalType)).otherwise(mv("total"))
      }
      c.as(ne.name)
    }
    Some(GraftViewPlaceholder(agg.output, mv.select(items: _*).queryExecution.analyzed))
  }

  /** The MV's stamp covers the base's current version: equal, or every
    * later commit is content-preserving. A rolled-back base (stamp >
    * current) or a gap past [[MaxFreshnessWalk]] is stale.
    *
    * Verdicts are memoized per (table dir, version): a committed
    * version's op — and hence its did-content-change verdict — is
    * immutable (snapshot expiry rewrites the op to "expired", but expiry
    * does not change what HAPPENED at that version, so the first-read
    * verdict stays semantically correct). The cache makes repeated
    * analyses of a stale-registered base cost zero metadata reads.
    * Bounded: cleared wholesale past 4096 entries. */
  private val opVerdicts =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), java.lang.Boolean]

  private def isFresh(gst: GraftSparkTable, baseVersion: Int,
                      mvProps: Map[String, String]): Boolean = {
    val stamp = mvProps.get(GraftTable.MvBaseVersionProp)
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(return false)
    if (stamp == baseVersion) return true
    if (stamp > baseVersion || baseVersion - stamp > MaxFreshnessWalk) return false
    if (opVerdicts.size > 4096) opVerdicts.clear()
    (stamp + 1 to baseVersion).forall { v =>
      val key = (gst.graftTable.dir, v)
      val cached = opVerdicts.get(key)
      if (cached != null) cached.booleanValue()
      else {
        val op = try gst.graftTable.snapshotAt(v).op catch { case _: Exception => return false }
        val ok = GraftTable.ContentPreservingOps.contains(op)
        // "expired" is a conservative decline, not a historical fact —
        // don't pin it (a pre-expiry read may have cached the real op,
        // which is fine; see above)
        if (op != "expired") opVerdicts.put(key, ok)
        ok
      }
    }
  }
}

/** Pattern helpers for the metadata-only COUNT(*) fold. */
/** Partition-count folds: aggregates whose answer is fully determined by
  * the k=v partition layout — `GROUP BY <identity-partition cols>` with
  * count(*) outputs, optionally under a conjunctive partition-equality
  * Filter (=, IN), including the filtered global count — fold at
  * analysis from the per-leaf pstats sidecars
  * ([[graft.table.GraftTable.partitionRowCounts]]) instead of scanning.
  * At 100 TB this answers `SELECT day, count(*) … GROUP BY day` and
  * `count(*) WHERE day = X` from O(partitions) metadata rows, the role
  * Iceberg's per-manifest partition summaries play. Any shape or
  * metadata gap (non-identity transform, pending deletes, missing
  * sidecar, unsafe value type) returns None and the query scans — the
  * fold is never load-bearing for correctness. */
private[catalog] object GraftPartitionFold {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, In, Literal => CLit}

  def fold(agg: Aggregate,
           writeTargets: java.util.Set[LogicalPlan]): Option[LogicalPlan] = {
    val (cond, child) = agg.child match {
      case f: Filter => (Some(f.condition), f.child)
      case ch => (None, ch)
    }
    val gst = GraftCountFold.relationOf(child, writeTargets).getOrElse(return None)
    val groupAttrs: Seq[AttributeReference] = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    // outputs: a grouping column (possibly aliased), count(*)/count(1),
    // or — when the pcolstats sidecars can serve them — count(col) /
    // min(col) / max(col) on declared stats columns
    def groupIdx(a: AttributeReference): Int =
      groupAttrs.indexWhere(_.exprId == a.exprId)
    val outs: Seq[Either[Int, GraftCountFold.FoldKind]] =
      agg.aggregateExpressions.map {
        case a: AttributeReference if groupIdx(a) >= 0 => Left(groupIdx(a))
        case Alias(a: AttributeReference, _) if groupIdx(a) >= 0 =>
          Left(groupIdx(a))
        case e => Right(GraftCountFold.foldKind(e).getOrElse(return None))
      }
    val statCols: Seq[String] = outs.collect {
      case Right(GraftCountFold.CountCol(c)) => c
      case Right(GraftCountFold.MinMax(c, _)) => c
      case Right(GraftCountFold.SumCol(c)) => c
    }.foldLeft(Vector.empty[String])((acc, n) =>
      if (acc.exists(_.equalsIgnoreCase(n))) acc else acc :+ n)
    val statTypes: Map[String, org.apache.spark.sql.types.DataType] =
      agg.aggregateExpressions.flatMap(_.collect {
        case a: AttributeReference
            if statCols.exists(_.equalsIgnoreCase(a.name)) =>
          a.name.toLowerCase -> a.dataType
      }).toMap
    // filter: a conjunction of `col = literal` / `col IN (literals)` on
    // plain attributes, literals non-null and type-identical (an analyzer
    // cast anywhere breaks the pattern and correctly declines the fold)
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    def litOk(a: AttributeReference, l: CLit): Boolean =
      l.value != null && l.dataType == a.dataType
    val conjuncts: Seq[(AttributeReference, Seq[Any])] =
      cond.map(split(_).map {
        case EqualTo(a: AttributeReference, l: CLit) if litOk(a, l) => (a, Seq(l.value))
        case EqualTo(l: CLit, a: AttributeReference) if litOk(a, l) => (a, Seq(l.value))
        case In(a: AttributeReference, vs)
            if vs.nonEmpty && vs.forall {
              case l: CLit => litOk(a, l)
              case _ => false
            } => (a, vs.map(_.asInstanceOf[CLit].value))
        case _ => return None
      }).getOrElse(Seq.empty)
    val snap = gst.snapshot
    if (snap.deletes.nonEmpty) return None
    val cols = (groupAttrs.map(_.name) ++ conjuncts.map(_._1.name))
      .foldLeft(Vector.empty[String])((acc, n) =>
        if (acc.exists(_.equalsIgnoreCase(n))) acc else acc :+ n)
    if (cols.isEmpty) return None // bare global agg: GraftCountFold's case
    def idxOf(n: String): Int = cols.indexWhere(_.equalsIgnoreCase(n))
    def statIdx(n: String): Int = statCols.indexWhere(_.equalsIgnoreCase(n))
    // count-only shapes fold from the (older, wider-compatibility)
    // pstats sidecar; shapes with column stats need pcolstats
    val leaves: Seq[(Seq[Any], Long, Seq[(Option[Any], Option[Any], Long, Option[Long])])] =
      if (statCols.isEmpty)
        gst.graftTable.partitionRowCounts(snap, cols).getOrElse(return None)
          .map { case (vs, n) => (vs, n, Seq.empty) }
      else
        gst.graftTable.partitionLeafStats(snap, cols, statCols)
          .getOrElse(return None)
    val kept = leaves.filter { case (vs, _, _) =>
      conjuncts.forall { case (a, lits) =>
        val v = vs(idxOf(a.name)); v != null && lits.exists(_ == v)
      }
    }
    val grouped: Seq[(Seq[Any], Seq[(Seq[Any], Long, Seq[(Option[Any], Option[Any], Long, Option[Long])])])] =
      if (groupAttrs.isEmpty) Seq((Seq.empty, kept))
      else kept.groupBy { case (vs, _, _) =>
        groupAttrs.map(g => vs(idxOf(g.name))) }.toSeq
    val rows = grouped.map { case (key, ls) =>
      InternalRow(outs.map {
        case Left(i) => key(i)
        case Right(GraftCountFold.CountStar) => ls.map(_._2).sum
        case Right(GraftCountFold.CountCol(c)) =>
          ls.map(_._3(statIdx(c))._3).sum
        case Right(GraftCountFold.SumCol(c)) =>
          val si = statIdx(c)
          var tot = 0L
          var any = false
          ls.foreach { l =>
            val (_, _, nn, sm) = l._3(si)
            if (nn > 0L) sm match {
              case Some(v) => tot += v; any = true
              case None => return None // values present but sum missing
            }
          }
          if (any) tot else null // SQL sum over no values is NULL
        case Right(GraftCountFold.MinMax(c, isMin)) =>
          val si = statIdx(c)
          val dt = statTypes.getOrElse(c.toLowerCase, return None)
          // leaves holding values must report a bound; all-NULL leaves
          // (nn == 0) contribute nothing
          val bounds = ls.flatMap { l =>
            val (mn, mx, nn, _) = l._3(si)
            val b = if (isMin) mn else mx
            if (nn == 0L) None
            else Some(b.getOrElse(return None))
          }
          graft.table.GraftTable.foldBound(dt, bounds, isMin)
            .getOrElse(return None)
      }: _*)
    }
    Some(LocalRelation(agg.output.map(_.toAttribute), rows))
  }
}

private[catalog] object GraftCountFold {
  import org.apache.spark.sql.catalyst.expressions.{Literal => CLit}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}

  /** The graft table under a bare count: the relation itself or a
    * trivial column-pruning Project over it — a Filter (or anything
    * else) means the count depends on row data and must scan. */
  def relationOf(child: LogicalPlan,
                 writeTargets: java.util.Set[LogicalPlan]): Option[GraftSparkTable] =
    child match {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftSparkTable] && !writeTargets.contains(r) =>
        Some(r.table.asInstanceOf[GraftSparkTable])
      case Project(es, r) if es.forall(_.isInstanceOf[Attribute]) => relationOf(r, writeTargets)
      case SubqueryAlias(_, r) => relationOf(r, writeTargets)
      case _ => None
    }

  /** `count(*)` / `count(1)` (non-distinct, unfiltered), possibly aliased. */
  def isCountStar(e: NamedExpression): Boolean =
    foldKind(e).contains(CountStar)

  sealed trait FoldKind
  case object CountStar extends FoldKind
  /** `count(col)` (non-distinct) — folds from the per-dir `nn` sidecar. */
  final case class CountCol(column: String) extends FoldKind
  /** `sum(col)` on an INTEGRAL column — folds from the per-dir `sum`
    * sidecar with wrapping Long addition (associative mod 2^64, so the
    * fold reproduces Spark's own overflow semantics exactly). */
  final case class SumCol(column: String) extends FoldKind
  /** `min(col)` / `max(col)` directly on a relation column. */
  final case class MinMax(column: String, isMin: Boolean) extends FoldKind

  /** The metadata-foldable shape of one aggregate output expression. */
  def foldKind(e: NamedExpression): Option[FoldKind] = e match {
    case Alias(ae, _) => foldKindExpr(ae)
    case other => foldKindExpr(other)
  }
  private def foldKindExpr(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[FoldKind] =
    e match {
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(CLit(_, _))) => Some(CountStar)
          case Count(Seq(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference)) =>
            Some(CountCol(a.name))
          case org.apache.spark.sql.catalyst.expressions.aggregate.Sum(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference, _)
              if graft.table.GraftTable.integralType(a.dataType) =>
            Some(SumCol(a.name))
          case org.apache.spark.sql.catalyst.expressions.aggregate.Min(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference) =>
            Some(MinMax(a.name, isMin = true))
          case org.apache.spark.sql.catalyst.expressions.aggregate.Max(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference) =>
            Some(MinMax(a.name, isMin = false))
          case _ => None
        }
      case _ => None
    }
}

/** Holds a graft relation's original output attributes over the
  * substituted snapshot plan; [[ResolveGraftTables]] then projects its
  * columns back onto those attribute ids. Never survives analysis
  * (`resolved` is false until replaced). */
case class GraftViewPlaceholder(output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override lazy val resolved: Boolean = false
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftViewPlaceholder =
    copy(child = newChild)
}

class GraftSparkSessionExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    extensions.injectResolutionRule(session => ResolveGraftTables(session))
}
