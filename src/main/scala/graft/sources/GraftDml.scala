package graft.sources

import graft.operators.Snapshot

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, Between, Cast, EqualTo => CEqualTo, Expression, GreaterThan => CGt, GreaterThanOrEqual => CGte, In => CIn, LessThan => CLt, LessThanOrEqual => CLte, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, expr}

/**
 * SQL `UPDATE` and `MERGE INTO` for graft catalog tables — the last
 * two verbs of the DML triangle the DSv2 connector opened (INSERT →
 * transactional merge, DELETE → predicate DML commit).
 *
 * Spark's own row-level-operation rewrite
 * (`SupportsRowLevelOperations`) plans a generic
 * read-join-replace-groups pipeline; graft already HAS transactional
 * primitives with exactly UPDATE/MERGE semantics
 * ([[Snapshot.updateWhere]], [[Snapshot.merge]]) — pruned
 * file-granularity rewrites under the commit lock with constraints /
 * guards enforced. So, like the major lakehouse engines, the commands
 * are intercepted at ANALYSIS (a post-hoc resolution rule registered
 * by [[graft.GraftExtensions]]) and routed onto those primitives:
 *
 * {{{
 *   UPDATE corpus SET n_chars = n_chars + 1000, lang = 'xx'
 *   WHERE doc_id >= 300 AND doc_id <= 349        -- Snapshot.updateWhere
 *
 *   MERGE INTO corpus t USING staged s ON t.doc_id = s.doc_id
 *   WHEN MATCHED THEN UPDATE SET *
 *   WHEN NOT MATCHED THEN INSERT *               -- Snapshot.merge
 * }}}
 *
 * REFUSE-DON'T-APPROXIMATE, the same contract as SQL DELETE:
 *  - UPDATE conditions must be conjunctions the manifest can prove
 *    file-exhaustively: ranges, one-sided/strict bounds, equality and
 *    IN lists on stats-provable columns (`>=`/`<=`/`>`/`<`/`=`/
 *    BETWEEN/IN — the [[Snapshot.DmlPred]] forms); anything else
 *    errors at analysis with a rewrite hint, never silently widened.
 *  - MERGE is keyed: the ON condition must CONTAIN exactly one
 *    equality per TABLE KEY COLUMN (composite keys anchor every
 *    column); further AND-ed conjuncts narrow match
 *    membership (the Delta partition-pruning merge idiom,
 *    `ON t.key = s.key AND t.part = s.part`). The full action surface
 *    rides it — conditioned actions in first-match-wins order,
 *    partial/target-referencing assignments (completed join-side),
 *    partial INSERT lists (null-padded), NOT MATCHED BY SOURCE.
 *    Non-equi key conditions, nested-field assignments and
 *    non-deterministic/subquery values are refused.
 *  - A `versionAsOf`/`tag`/`timestampAsOf`-pinned reference refuses
 *    both verbs (no writing to the past).
 */
object GraftDml {

  /** The graft table under an UPDATE/MERGE target, unwrapped through
    * aliases only — a join or projection in between is not a direct
    * table reference and stays with Spark. */
  @scala.annotation.tailrec
  private[sources] def graftTarget(p: LogicalPlan): Option[GraftTable] = p match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case r: DataSourceV2Relation => r.table match {
      case g: GraftTable => Some(g)
      case _ => None
    }
    case _ => None
  }

  /** A comparison side that is a compile-time constant — a literal or
    * a foldable expression (type coercion wraps literals in casts:
    * `id >= 5` arrives as `id >= CAST(5 AS BIGINT)`), evaluated to
    * its EXTERNAL value. None for NULL (a NULL bound never matches —
    * refuse rather than reason about three-valued logic here). */
  private def constValue(e: Expression): Option[Any] = e match {
    case _ if !e.foldable || e.exists(_.isInstanceOf[SubqueryExpression]) => None
    case _ => Option(e.eval(null))
      .map(CatalystTypeConverters.convertToScala(_, e.dataType))
  }

  /** Unwraps same-type casts (coercion's no-op wrap); any cast that
    * actually changes the type stays — and keeps refusing. */
  private object TrivialCast {
    def unapply(e: Expression): Some[Expression] = e match {
      case c: Cast if c.child.dataType == c.dataType => unapply(c.child)
      case other => Some(other)
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    // BETWEEN survives analysis as a RuntimeReplaceable node (its
    // replacement hides the column behind common-subexpression refs);
    // decompose it to the primitive >= AND <= form directly
    case Between(input, lower, upper, _) =>
      conjuncts(CGte(input, lower)) ++ conjuncts(CLte(input, upper))
    case x => Seq(x)
  }

  /** Render an expression as re-parseable SQL with attribute
    * QUALIFIERS stripped: resolved attrs render as
    * `spark_catalog`.`default`.`t`.`col`, which cannot re-resolve
    * against the bare table frame the command executes over. */
  private def unqualifiedSql(e: Expression): String =
    e.transform {
      case ar: AttributeReference => ar.withQualifier(Seq.empty)
    }.sql

  /** Catalyst condition → [[Snapshot.updateMatching]]'s DML
    * predicates (bounded ranges + IN lists); None refuses. Mirrors
    * [[GraftFilters.toDmlPreds]] on v1 Filters. */
  private[graft] def toDmlPreds(cond: Expression): Option[Seq[Snapshot.DmlPred]] = {
    // per column: (bound value, strict?) per side — half-open is legal
    // (the retention-sweep shape); double bounds on one side refuse
    val bounds = scala.collection.mutable.LinkedHashMap[
      String, (Option[(Any, Boolean)], Option[(Any, Boolean)])]()
    val ins = scala.collection.mutable.ArrayBuffer.empty[Snapshot.InPred]
    def upd(c: String, lo: Option[(Any, Boolean)],
            hi: Option[(Any, Boolean)]): Boolean = {
      val (l0, h0) = bounds.getOrElse(c, (None, None))
      if ((lo.isDefined && l0.isDefined) || (hi.isDefined && h0.isDefined))
        return false // conflicting double bounds — refuse, don't guess
      bounds(c) = (lo.orElse(l0), hi.orElse(h0))
      true
    }
    def lo(v: Option[Any], strict: Boolean) = v.map(x => (x, strict))
    val ok = conjuncts(cond).forall {
      case CEqualTo(a: AttributeReference, c) if constValue(c).isDefined =>
        val v = constValue(c).get
        upd(a.name, Some((v, false)), Some((v, false)))
      case CEqualTo(c, a: AttributeReference) if constValue(c).isDefined =>
        val v = constValue(c).get
        upd(a.name, Some((v, false)), Some((v, false)))
      case CGte(a: AttributeReference, c) if constValue(c).isDefined =>
        upd(a.name, lo(constValue(c), strict = false), None)
      case CLte(c, a: AttributeReference) if constValue(c).isDefined =>
        upd(a.name, lo(constValue(c), strict = false), None)
      case CGt(a: AttributeReference, c) if constValue(c).isDefined =>
        upd(a.name, lo(constValue(c), strict = true), None)
      case CLt(c, a: AttributeReference) if constValue(c).isDefined =>
        upd(a.name, lo(constValue(c), strict = true), None)
      case CLte(a: AttributeReference, c) if constValue(c).isDefined =>
        upd(a.name, None, lo(constValue(c), strict = false))
      case CGte(c, a: AttributeReference) if constValue(c).isDefined =>
        upd(a.name, None, lo(constValue(c), strict = false))
      case CLt(a: AttributeReference, c) if constValue(c).isDefined =>
        upd(a.name, None, lo(constValue(c), strict = true))
      case CGt(c, a: AttributeReference) if constValue(c).isDefined =>
        upd(a.name, None, lo(constValue(c), strict = true))
      // IN coercion wraps EVERY child in a cast to the widest type —
      // including an attribute already of that type; strip only the
      // TRIVIAL (same-type) wrap, any real cast keeps refusing
      case CIn(TrivialCast(a: AttributeReference), list)
          if list.nonEmpty && list.forall(constValue(_).isDefined) =>
        ins += Snapshot.InPred(a.name, list.map(constValue(_).get)); true
      case _ => false
    }
    if (!ok || (bounds.isEmpty && ins.isEmpty)) None
    else Some(bounds.toSeq.map {
      case (c, (Some((l, false)), Some((h, false)))) =>
        Snapshot.RangePred(c, l, h)
      case (c, (l, h)) =>
        Snapshot.BoundPred(c, l.map(_._1), h.map(_._1),
          loStrict = l.exists(_._2), hiStrict = h.exists(_._2))
    } ++ ins)
  }

  // refusals surface at analysis time, same style as the connector's
  // canDeleteWhere contract: a clear error, never an approximation
  private def refuse(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  // ------------------------------------------------------------ UPDATE

  private[graft] def rewriteUpdate(u: UpdateTable, g: GraftTable): LogicalPlan = {
    if (g.pinned) refuse(
      "graft: cannot UPDATE through a versionAsOf/tag-pinned reference")
    val preds = u.condition match {
      case None => refuse("graft: UPDATE without WHERE would rewrite the " +
        "whole table — give a bounded range/equality condition, or use " +
        "the Scala relayout/compact commits for full rewrites")
      case Some(c) => toDmlPreds(c).getOrElse(refuse(
        "graft: UPDATE supports conjunctions of ranges, one-sided " +
          "bounds, equality and IN lists on stats-provable columns " +
          "(col = v, col >= lo, col < hi, BETWEEN, col IN (…)) — " +
          s"rewrite the predicate or use the Scala DML API (got: ${c.sql})"))
    }
    val sets = u.assignments.flatMap { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case other => refuse(s"graft: UPDATE of a nested field " +
          s"(${other.sql}) is not supported")
      }
      a.value match {
        // alignment may have padded identity assignments (col = col);
        // dropping them keeps key/partition columns legal to omit
        case ar: AttributeReference if ar.name == name => None
        case v =>
          if (!v.deterministic) refuse(
            s"graft: non-deterministic UPDATE expression for '$name'")
          if (v.exists(_.isInstanceOf[SubqueryExpression])) refuse(
            s"graft: subquery in UPDATE expression for '$name' — " +
              "materialize it and use the Scala API")
          Some(name -> unqualifiedSql(v))
      }
    }
    if (sets.isEmpty) refuse("graft: UPDATE with no effective assignments")
    GraftUpdateCommand(g.path, preds, sets)
  }

  // ------------------------------------------------------------- MERGE

  /** Prefix under which TARGET columns appear in the combined matched
    * frame (the source keeps its own names) — see
    * [[GraftMergeCommand]]. */
  private[sources] val TgtPrefix = "__graft_t_"

  private def checkValueExpr(e: Expression, what: String): Unit = {
    if (!e.deterministic) refuse(
      s"graft: non-deterministic MERGE $what (${e.sql})")
    if (e.exists(_.isInstanceOf[SubqueryExpression])) refuse(
      s"graft: subquery in MERGE $what — materialize it and use the " +
        "Scala API")
  }

  private[graft] def rewriteMerge(m: MergeIntoTable, g: GraftTable): LogicalPlan = {
    if (g.pinned) refuse(
      "graft: cannot MERGE into a versionAsOf/tag-pinned reference")
    val tgtIds = m.targetTable.outputSet
    val srcIds = m.sourceTable.outputSet
    if ((m.targetTable.output ++ m.sourceTable.output)
        .exists(_.name.startsWith("__graft_"))) refuse(
      "graft: column names starting with __graft_ collide with MERGE " +
        "internals — rename them")
    // ON condition: a conjunction whose anchor is equality over EVERY
    // column of the (possibly composite) table key (either side
    // order); every REMAINING conjunct narrows the match — the Delta
    // partition-pruning merge idiom (`ON t.key = s.key AND t.part =
    // s.part`): a key-equal pair whose extra conjuncts fail is NOT
    // matched (the source row is an insert candidate, the target row
    // a by-source candidate), standard SQL MERGE ON semantics.
    val keys = Snapshot.readManifest(g.path,
      Snapshot.currentVersion(g.path)).keys
    val onConjuncts = conjuncts(m.mergeCondition)
    def keyEq(e: Expression): Option[(String, String)] = e match {
      case CEqualTo(a: AttributeReference, b: AttributeReference) =>
        if (tgtIds.contains(a) && srcIds.contains(b) && keys.contains(a.name))
          Some(a.name -> b.name)
        else if (tgtIds.contains(b) && srcIds.contains(a) && keys.contains(b.name))
          Some(b.name -> a.name)
        else None
      case _ => None
    }
    val keyEqs = onConjuncts.flatMap(keyEq)
    val byKey = keyEqs.groupBy(_._1)
    val keyConds: Seq[String] = keys.map { k =>
      byKey.getOrElse(k, Nil) match {
        case Seq((_, s)) => s
        case Seq() => refuse("graft: MERGE ON must contain equality on " +
          s"every table key column (${keys.mkString(",")}) — missing " +
          s"'$k' (`target.$k = source.col`, optionally AND-ed with " +
          "further conditions); the format's merge primitive is keyed " +
          s"(got: ${m.mergeCondition.sql})")
        case xs => refuse(s"graft: MERGE ON holds ${xs.size} equalities " +
          s"on key column '$k' — give exactly one")
      }
    }
    // BETWEEN survives analysis as a RuntimeReplaceable whose
    // transform() does not visit the original operands (they hide
    // behind the CSE'd replacement), so qualifier-stripping would miss
    // them and the rendered SQL could not re-resolve — desugar it to
    // the primitive >= AND <= form first (as the UPDATE path does)
    def desugar(e: Expression): Expression = e.transformUp {
      case Between(in, lo, hi, _) => CAnd(CGte(in, lo), CLte(in, hi))
    }
    // Render an expression over the COMBINED matched namespace: source
    // attrs keep their names, target attrs move under TgtPrefix.
    // Returns the SQL and whether the target side was touched (the
    // command picks the cheap semi-join path when nothing was).
    def renderMixed(e0: Expression, what: String): (String, Boolean) = {
      val e = desugar(e0)
      checkValueExpr(e, what)
      var usesT = false
      val x = e.transform {
        case ar: AttributeReference if tgtIds.contains(ar) =>
          usesT = true
          ar.withName(TgtPrefix + ar.name).withQualifier(Seq.empty)
        case ar: AttributeReference => ar.withQualifier(Seq.empty)
      }
      (x.sql, usesT)
    }
    // Render over ONE side only; attrs from the other side refuse.
    def renderSide(e0: Expression, allowed: org.apache.spark.sql.catalyst
                     .expressions.AttributeSet, what: String): String = {
      val e = desugar(e0)
      checkValueExpr(e, what)
      e.references.find(r => !allowed.contains(r)).foreach(r => refuse(
        s"graft: MERGE $what may not reference '${r.name}' from the " +
          "other side of the join"))
      unqualifiedSql(e)
    }
    def assignName(a: Assignment): String = a.key match {
      case ar: AttributeReference => ar.name
      case other => refuse(s"graft: MERGE assignment to a nested field " +
        s"(${other.sql}) is not supported")
    }
    // target schema, for null-padding partial INSERT column lists
    val tgtFields = m.targetTable.output.map(a => a.name -> a.dataType)

    // the non-key ON conjuncts, rendered over the combined matched
    // namespace (source bare, target under TgtPrefix) — they gate
    // MATCH MEMBERSHIP itself, so every membership join applies them
    val extraOn: Seq[(String, Boolean)] =
      onConjuncts.filter(keyEq(_).isEmpty)
        .map(renderMixed(_, "ON condition"))

    val matched: Seq[MergeActSpec] = m.matchedActions.map {
      case UpdateAction(cond, as, _) =>
        val c = cond.map(renderMixed(_, "MATCHED condition"))
        val assigns = as.flatMap { a =>
          val name = assignName(a)
          a.value match {
            // identity padding (col = target.col) — drop it; the
            // command fills unassigned columns from the target row
            case ar: AttributeReference
              if tgtIds.contains(ar) && ar.name == name => None
            case v => Some((name, renderMixed(v, s"assignment for '$name'")))
          }
        }
        MergeActSpec("update", c.map(_._1),
          assigns.map { case (n, (sql, _)) => n -> sql },
          usesTarget = c.exists(_._2) || assigns.exists(_._2._2) ||
            !tgtFields.forall { case (n, _) => assigns.exists(_._1 == n) })
      case DeleteAction(cond) =>
        val c = cond.map(renderMixed(_, "MATCHED condition"))
        MergeActSpec("delete", c.map(_._1), Nil, usesTarget = c.exists(_._2))
      case other => refuse("graft: unsupported MATCHED MERGE action " +
        other.getClass.getSimpleName)
    }
    val inserted: Seq[MergeActSpec] = m.notMatchedActions.map {
      case InsertAction(cond, as) =>
        // not-matched rows HAVE no target side — source-only by nature
        val c = cond.map(renderSide(_, srcIds, "NOT MATCHED condition"))
        val assigns = as.map { a =>
          val name = assignName(a)
          name -> renderSide(a.value, srcIds, s"INSERT value for '$name'")
        }
        // partial column lists pad with typed NULLs (SQL semantics)
        val padded = assigns ++ tgtFields.collect {
          case (n, t) if !assigns.exists(_._1 == n) =>
            n -> s"CAST(NULL AS ${t.sql})"
        }
        MergeActSpec("insert", c, padded, usesTarget = false)
      case other => refuse("graft: unsupported NOT MATCHED MERGE action " +
        other.getClass.getSimpleName)
    }
    val bySource: Seq[MergeActSpec] = m.notMatchedBySourceActions.map {
      case UpdateAction(cond, as, _) =>
        // by-source rows HAVE no source side — target-only by nature
        val c = cond.map(renderSide(_, tgtIds, "NOT MATCHED BY SOURCE condition"))
        val assigns = as.flatMap { a =>
          val name = assignName(a)
          a.value match {
            case ar: AttributeReference
              if tgtIds.contains(ar) && ar.name == name => None // identity
            case v => Some(name ->
              renderSide(v, tgtIds, s"BY SOURCE value for '$name'"))
          }
        }
        MergeActSpec("update", c, assigns, usesTarget = true)
      case DeleteAction(cond) =>
        MergeActSpec("delete",
          cond.map(renderSide(_, tgtIds, "NOT MATCHED BY SOURCE condition")),
          Nil, usesTarget = true)
      case other => refuse("graft: unsupported NOT MATCHED BY SOURCE " +
        "MERGE action " + other.getClass.getSimpleName)
    }
    if (matched.isEmpty && inserted.isEmpty && bySource.isEmpty)
      refuse("graft: MERGE with no supported actions")
    GraftMergeCommand(g.path, keys, keyConds, m.sourceTable,
      matched, inserted, bySource, extraOn)
  }
}

/** One rewritten MERGE action. `cond`/`assigns` are SQL text over the
  * executing frame's namespace: for MATCHED actions the combined
  * source ∪ `__graft_t_`-prefixed target row, for NOT MATCHED the bare
  * source row, for NOT MATCHED BY SOURCE the bare target row.
  * `usesTarget` marks a MATCHED action as needing the combined frame
  * (a target-referencing expression or a partial assignment list). */
case class MergeActSpec(kind: String, cond: Option[String],
                        assigns: Seq[(String, String)], usesTarget: Boolean)

/** `UPDATE` executed as the pruned copy-on-write commit
  * ([[Snapshot.updateWhere]]): manifest stats name the candidate
  * files, only those rewrite, one atomic version. SET expressions are
  * carried as SQL text (re-resolved against the table frame — a
  * resolved Column would drag foreign expression ids across plans). */
case class GraftUpdateCommand(path: String,
                              preds: Seq[Snapshot.DmlPred],
                              sets: Seq[(String, String)])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Snapshot.updateMatching(spark, path, preds,
      sets.map { case (c, sql) => c -> expr(sql) }.toMap)
    Seq.empty
  }
}

/** `MERGE INTO` executed as ONE transactional [[Snapshot.merge]]
  * commit. The source plan is already analyzed; matched/not-matched
  * membership is decided against the table's CURRENT keys inside the
  * commit — by the ON key, via semi/anti/inner joins (never a
  * driver-side collect) — then upserts and deletes land in a single
  * atomic version.
  *
  * Action semantics are SQL's: within each membership class, actions
  * evaluate IN ORDER and the first whose condition holds applies
  * (a NULL condition is not-holds); rows no action claims stay
  * untouched. MATCHED actions that never look at the target row and
  * assign every column ride the cheap LEFT SEMI membership probe (the
  * canonical `UPDATE SET *` stays one key-only join); an action with a
  * target-referencing condition/value or a PARTIAL assignment list
  * upgrades the matched side to an inner join against the full target
  * row (target columns under [[GraftDml.TgtPrefix]]) so unassigned
  * columns carry the target's current values — the format's merge
  * primitive replaces whole rows, so partial updates are completed
  * join-side, never approximated. NOT MATCHED BY SOURCE actions run
  * the same cascade over the target-minus-source anti-join. A full
  * upsert whose single UPDATE and INSERT assignment lists are
  * identical and unconditioned collapses to one shaping pass over the
  * raw source (no membership join at all). */
case class GraftMergeCommand(path: String, keys: Seq[String],
                             sourceKeyCols: Seq[String],
                             @transient sourcePlan: LogicalPlan,
                             matched: Seq[MergeActSpec],
                             inserted: Seq[MergeActSpec],
                             bySource: Seq[MergeActSpec],
                             extraOn: Seq[(String, Boolean)] = Nil)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(sourcePlan)

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    // the source plan feeds up to four branches (key-bounds aggregate,
    // matched join, insert anti-join, by-source key probe) — cache it
    // ONCE so every branch observes a single materialization even when
    // the underlying files change mid-statement (e.g. another table
    // receiving a concurrent commit between branch executions). Cache
    // is best-effort (evicted blocks recompute), so the determinism
    // gate on the pruning fast path below still stands — this closes
    // the read-stability window, not the non-deterministic-expression
    // hazard.
    val src = graft.operators.OpCache.cache(
      org.apache.spark.sql.graft.SqlBridge.ofRows(spark, sourcePlan))
    try runWith(spark, src) finally graft.operators.OpCache.unpersistEager(src)
  }

  private def runWith(spark: SparkSession,
                      src: org.apache.spark.sql.DataFrame): Seq[Row] = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val target = Snapshot.readLatest(spark, path)
    val tCols = target.columns.toSeq
    val targetKeys = target.select(keys.map(col): _*)
    val srcKeys = src.select(keys.zip(sourceKeyCols).map {
      case (k, s) => expr(s).as(k) }: _*)

    // first-matching-action-wins: rows for action i satisfy its own
    // condition and NONE of the earlier actions' (SQL order semantics)
    def cascade(rows: DataFrame, acts: Seq[MergeActSpec])
        : Seq[(MergeActSpec, DataFrame)] = {
      var prior: org.apache.spark.sql.Column = lit(false)
      acts.map { a =>
        val c = a.cond.map(s => coalesce(expr(s), lit(false))).getOrElse(lit(true))
        val claimed = rows.filter(c && !prior)
        prior = prior || c
        (a, claimed)
      }
    }
    // shape claimed rows to the full table schema; unassigned columns
    // fill via `from` (target values for partial updates)
    def shaped(df: DataFrame, assigns: Map[String, String],
               from: String => org.apache.spark.sql.Column) =
      df.select(tCols.map(c =>
        assigns.get(c).map(expr(_).as(c)).getOrElse(from(c).as(c))): _*)

    val emptyUpserts = target.limit(0).select(tCols.map(col): _*)
    val emptyKeys = targetKeys.limit(0)

    // Non-key ON conjuncts gate MATCH MEMBERSHIP itself: a key-equal
    // pair whose extra conjuncts fail is NOT matched (its source row
    // is an insert candidate, its target row a by-source candidate) —
    // so every membership join below carries them in its condition.
    // A NULL conjunct is not-a-match, exactly a join condition's
    // three-valued semantics.
    val extraUsesTarget = extraOn.exists(_._2)
    val extraCond: Option[org.apache.spark.sql.Column] =
      extraOn.map(t => coalesce(expr(t._1), lit(false))).reduceOption(_ && _)

    // The full target row under TgtPrefix names — the build side of
    // every join that must see target columns. At scale the read is
    // PRUNED to the source's ON-key range through the manifest (the
    // key's per-file min/max are always tracked): a partial-update
    // MERGE against a 100 TB table opens only the files whose key
    // range intersects the source's keys — two scalar aggregates
    // driver-side buy a file-granularity scan cut. Safe for the anti
    // joins too: every pair must key-match, so a file whose key range
    // misses the source's bounds can hold no pair. ONLY when the
    // source plan is deterministic: the bounds pass re-executes the
    // source, and a non-deterministic source could produce join-time
    // keys outside the measured range — those rows would silently
    // miss their target row. (Assignments and conditions are already
    // required deterministic; the source plan itself is the user's.)
    // Expression.deterministic already folds over children (and
    // PlanExpression over its subquery plan), so one check per
    // top-level expression covers every subtree.
    lazy val prefixedTarget: DataFrame = {
      val detSource = !sourcePlan.exists(_.expressions.exists(!_.deterministic))
      val tgtRows =
        if (!detSource) target
        else {
          // min/max per key column in one aggregate; every key column
          // is stats-tracked (create tracks the whole key), so the
          // pruned read intersects all ranges
          val aggs = sourceKeyCols.flatMap(s => Seq(
            org.apache.spark.sql.functions.min(expr(s)),
            org.apache.spark.sql.functions.max(expr(s))))
          val bounds = src.agg(aggs.head, aggs.tail: _*).head()
          // an all-null key COLUMN means no source row can key-match
          // any target pair (NULL never equals) — same as empty
          if (keys.indices.exists(i => bounds.isNullAt(2 * i)))
            target.limit(0)
          else Snapshot.read(spark, path,
            keys.indices.map(i => Snapshot.RangePred(
              keys(i), bounds.get(2 * i), bounds.get(2 * i + 1))))
        }
      tgtRows.select(tCols.map(c => col(c).as(GraftDml.TgtPrefix + c)): _*)
    }
    def keyEqPrefixed: org.apache.spark.sql.Column =
      keys.indices.map(i =>
        expr(sourceKeyCols(i)) === col(GraftDml.TgtPrefix + keys(i)))
        .reduce(_ && _)

    // ---- MATCHED ----
    val fastPath = matched.forall(!_.usesTarget) && !extraUsesTarget
    val matchedRows: DataFrame =
      if (matched.isEmpty) emptyUpserts
      else if (fastPath) {
        // membership probe only: source-only extra conjuncts filter
        // the probe; key columns renamed on the build side so a
        // same-named source column never ambiguates
        val probe = extraCond.map(src.filter).getOrElse(src)
        probe.join(targetKeys.select(keys.map(k =>
            col(k).as("__graft_tk_" + k)): _*),
          keys.indices.map(i => expr(sourceKeyCols(i)) ===
            col("__graft_tk_" + keys(i))).reduce(_ && _), "left_semi")
      } else
        // combined row: source names + TgtPrefix-renamed target row
        src.join(prefixedTarget,
          extraCond.foldLeft(keyEqPrefixed)(_ && _), "inner")
    val matchedParts = cascade(matchedRows, matched)
    val matchedUpserts = matchedParts.collect {
      case (a, rows) if a.kind == "update" =>
        shaped(rows, a.assigns.toMap, c => col(GraftDml.TgtPrefix + c))
    }
    val matchedDeletes = matchedParts.collect {
      case (a, rows) if a.kind == "delete" =>
        rows.select(keys.zip(sourceKeyCols).map {
          case (k, sc) => expr(sc).as(k) }: _*)
    }

    // ---- NOT MATCHED (insert) ----
    // a source row inserts iff NO target pair satisfies the FULL ON —
    // so with extra conjuncts, a key-colliding source row whose extra
    // fails is still an INSERT candidate (SQL semantics); on this
    // KEYED format that insert REPLACES the key's existing row — the
    // same documented upsert-on-key contract SQL INSERT carries. A
    // statement that simultaneously deletes the row by source and
    // re-inserts its key refuses with the merge ambiguity error.
    val insertRows =
      if (inserted.isEmpty) emptyUpserts
      else if (extraOn.isEmpty)
        src.join(targetKeys.select(keys.map(k =>
            col(k).as("__graft_tk_" + k)): _*),
          keys.indices.map(i => expr(sourceKeyCols(i)) ===
            col("__graft_tk_" + keys(i))).reduce(_ && _), "left_anti")
      else if (!extraUsesTarget)
        src.join(targetKeys.select(keys.map(k =>
            col(k).as("__graft_tk_" + k)): _*),
          keys.indices.map(i => expr(sourceKeyCols(i)) ===
            col("__graft_tk_" + keys(i))).reduce(_ && _) && extraCond.get,
          "left_anti")
      else
        src.join(prefixedTarget,
          extraCond.foldLeft(keyEqPrefixed)(_ && _), "left_anti")
    val insertUpserts = cascade(insertRows, inserted).map { case (a, rows) =>
      shaped(rows, a.assigns.toMap,
        c => lit(null)) // unreachable: insert assigns are null-padded
    }

    // ---- NOT MATCHED BY SOURCE (target rows with no source match) ----
    // with extra conjuncts the probe target moves under TgtPrefix (the
    // namespace the conjuncts were rendered over; bare source names on
    // the build side never ambiguate) and strips back after the anti
    // join, so the by-source cascade still sees bare target rows
    val bySourceRows =
      if (bySource.isEmpty) emptyUpserts
      else if (extraOn.isEmpty)
        target.join(srcKeys.select(keys.map(k =>
            col(k).as("__graft_sk_" + k)): _*),
          keys.map(k => col(k) === col("__graft_sk_" + k)).reduce(_ && _),
          "left_anti")
      else
        target.select(tCols.map(c => col(c).as(GraftDml.TgtPrefix + c)): _*)
          .join(src, extraCond.foldLeft(keyEqPrefixed)(_ && _), "left_anti")
          .select(tCols.map(c => col(GraftDml.TgtPrefix + c).as(c)): _*)
    val bySourceParts = cascade(bySourceRows, bySource)
    val bySourceUpserts = bySourceParts.collect {
      case (a, rows) if a.kind == "update" => shaped(rows, a.assigns.toMap, col)
    }
    val bySourceDeletes = bySourceParts.collect {
      case (a, rows) if a.kind == "delete" =>
        rows.select(keys.map(col): _*)
    }

    // the canonical full upsert (one unconditioned UPDATE + one
    // unconditioned INSERT, identical complete assignments, nothing
    // else): one shaping pass over the raw source, no membership join
    val upserts = (matched, inserted, bySource) match {
      case (Seq(MergeActSpec("update", None, u, false)),
            Seq(MergeActSpec("insert", None, i, _)), Nil)
        if u.toMap == i.toMap && extraOn.isEmpty =>
        shaped(src, u.toMap, c => lit(null))
      case _ =>
        (matchedUpserts ++ insertUpserts ++ bySourceUpserts)
          .foldLeft(emptyUpserts)(_ unionByName _)
    }
    val deleteKeys =
      (matchedDeletes ++ bySourceDeletes).foldLeft(emptyKeys)(_ unionByName _)
    // the keyed-format invariant gate — one upsert row per key — runs
    // INSIDE Snapshot.merge on the CACHED delivery (never a detached
    // probe a non-deterministic source could diverge from). Two SQL
    // ways to trip it: a source with duplicate ON keys (Delta's
    // "multiple source rows matched"), or a compound-ON NOT MATCHED
    // insert colliding with a NOT MATCHED BY SOURCE update.
    Snapshot.merge(spark, path, upserts, deleteKeys, op = "sql-merge")
    Seq.empty
  }
}

/** DYNAMIC-mode SQL `INSERT OVERWRITE` (conf
  * `spark.sql.sources.partitionOverwriteMode=dynamic`, no static
  * PARTITION spec) executed as the partition-scoped replace commit
  * ([[Snapshot.overwritePartitions]] in dynamic mode): exactly the
  * partitions the query's result CONTAINS replace, absent partitions
  * carry forward untouched, and an empty delivery commits NOTHING —
  * all of Spark's `OverwritePartitionsDynamic` semantics, on the
  * transactional commit protocol. The V1 write bridge cannot express
  * this verb (it collapses every overwrite to a predicate), so the
  * plan node is intercepted at analysis like UPDATE/MERGE — after
  * output resolution, so the query's columns are already aligned to
  * the table schema positionally the way Spark's own writer would. */
case class GraftDynamicOverwriteCommand(path: String,
                                        @transient queryPlan: LogicalPlan)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(queryPlan)
  override def run(spark: SparkSession): Seq[Row] = {
    Snapshot.overwritePartitions(spark, path,
      org.apache.spark.sql.graft.SqlBridge.ofRows(spark, queryPlan),
      scope = None)
    Seq.empty
  }
}

/** The analysis-time interception rule (see [[GraftDml]]), registered
  * by [[graft.GraftExtensions]] as a post-hoc resolution rule. Only
  * UPDATE/MERGE/dynamic-OVERWRITE whose direct target is a graft
  * table are touched; everything else flows to Spark's own
  * machinery. */
class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(tbl, assignments, condition)
        if tbl.resolved && assignments.forall(_.resolved) &&
          condition.forall(_.resolved) =>
      GraftDml.graftTarget(tbl).map(GraftDml.rewriteUpdate(u, _)).getOrElse(u)
    case m: MergeIntoTable
        if m.targetTable.resolved && m.sourceTable.resolved &&
          m.mergeCondition.resolved &&
          (m.matchedActions ++ m.notMatchedActions ++
            m.notMatchedBySourceActions).forall(_.resolved) =>
      GraftDml.graftTarget(m.targetTable)
        .map(GraftDml.rewriteMerge(m, _)).getOrElse(m)
    case o: OverwritePartitionsDynamic
        if o.table.resolved && o.query.resolved && o.outputResolved =>
      GraftDml.graftTarget(o.table).map { g =>
        if (g.pinned) throw new IllegalArgumentException(
          "graft: cannot INSERT OVERWRITE through a versionAsOf/" +
            "tag-pinned reference")
        GraftDynamicOverwriteCommand(g.path, o.query)
      }.getOrElse(o)
    case other => other
  }
}
