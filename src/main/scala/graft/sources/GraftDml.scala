package graft.sources

import org.apache.spark.sql.{Column, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.expr

import graft.operators.Versioned

/** SQL row-level DML on graft tables — `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` statements against `USING graft` catalog tables or
  * `graft.`/path`` references, the user surface a Delta migrant reaches
  * for first (the reference mutates exclusively through Delta SQL
  * strings in YAML: `source/pyzzle/datasource/delta.py:104-148`).
  *
  * Mechanism: a [[SparkSessionExtensions]] resolution rule — the same
  * architecture Delta itself uses (DeltaAnalysis rewrites the analyzed
  * `DeleteFromTable`/`UpdateTable`/`MergeIntoTable` into its own
  * commands; Delta does NOT go through DSv2 `SupportsRowLevelOperations`
  * either). The alternative — a DSv2 group-based rewrite — was weighed
  * and rejected: Spark's generic `ReplaceData` plan rewrites whatever
  * file groups its scan happened to read and hands the commit to a
  * generic batch write, which would bypass BOTH halves of the COW
  * economics ([[Versioned.delete]]'s stats-pruned candidates + exact
  * `input_file_name()` touched-group detection, untouched groups
  * carried metadata-only) and the expected-parent manifest publication
  * that kills the lost-update race. Delegating the analyzed SQL to the
  * existing triad keeps one mutation code path with one concurrency
  * story.
  *
  * Enable per-session (exactly like Delta's extension):
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.sources.GraftExtensions")
  * }}}
  * or on an already-running SparkContext: [[GraftDml.enabledSession]].
  *
  * Supported shapes (anything else raises a clear error, never a wrong
  * result):
  *  - `DELETE FROM t WHERE <cond>` (and unconditional `DELETE FROM t`)
  *  - `UPDATE t SET c = e, ... [WHERE <cond>]`
  *  - `MERGE INTO t USING s ON t.k = s.k [AND ...]
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
  *    — the replace-by-key contract of [[Versioned.merge]]; the ON
  *    clause must be a conjunction of same-named target=source column
  *    equalities (the key columns).
  * Conditions may be any deterministic row-local expression, plus — in
  * DELETE/UPDATE, with Delta's pre-image semantics — either ONE
  * top-level `col IN (SELECT ...)` conjunct (the subquery materializes
  * against the PRE-IMAGE, then the merge-clause COW runs keyed on the
  * set) or uncorrelated SCALAR subqueries (each evaluated against the
  * pre-image and substituted as a typed literal, so stats pruning sees
  * a plain comparison). Any other subquery shape is refused. */
final class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Hints batch runs BEFORE resolution: graft.`/path` references must
    // be resolved before ResolveSQLOnFile rejects them (it only accepts
    // FileFormat sources for direct path queries).
    ext.injectHintResolutionRule(session => new GraftPathRelationRule(session))
    ext.injectResolutionRule(_ => GraftDmlRule)
    // Maintenance statements core Spark cannot parse (DESCRIBE
    // HISTORY, VACUUM, OPTIMIZE, RESTORE, ADD/DROP CONSTRAINT, the
    // column DDL) — DeltaSqlParser's architecture.
    ext.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
  }
}

/** Resolve `graft.`/table/dir`` references — Delta's ``delta.`path```
  * surface — into the v1 graft relation, for reads and DML targets
  * alike (`SELECT * FROM graft.`/p``, `DELETE FROM graft.`/p` WHERE…`),
  * plus SQL TIME TRAVEL (`VERSION AS OF n` / `TIMESTAMP AS OF ts`) on
  * both the path form and `USING graft` catalog tables — Spark only
  * wires `RelationTimeTravel` up for v2 tables, so the v1 relation
  * resolves it here. */
final class GraftPathRelationRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  private def pathOf(
      u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation): Option[String] =
    if (GraftPathRelationRule.resolvesAsPath(session, u.multipartIdentifier))
      Some(u.multipartIdentifier(1))
    else
      org.apache.spark.sql.graftshim.GraftSqlBridge
        .graftTablePath(session, u.multipartIdentifier)

  private def relation(dir: String, version: Long): LogicalPlan =
    SubqueryAlias(dir,
      LogicalRelation(GraftRelation(session, dir, version), isStreaming = false))

  private def instantOf(e: Expression): java.time.Instant = {
    require(e.resolved && e.foldable,
      "graft TIMESTAMP AS OF must be a literal")
    (e.eval(), e.dataType) match {
      case (s, _: org.apache.spark.sql.types.StringType) =>
        GraftDml.parseInstant(s.toString)
      case (micros: Long, org.apache.spark.sql.types.TimestampType) =>
        java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS)
      case (v, dt) => throw new IllegalArgumentException(
        s"unsupported TIMESTAMP AS OF operand: $v ($dt)")
    }
  }

  /** A TVF's table argument resolved to a graft table directory —
    * a path string (the ``graft.`path``` form's probe) or a USING
    * graft catalog table name. */
  private def tvfTableDir(fn: String, arg: Expression): String = {
    val nameStr = arg.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: first argument must be a table name or path string, got $other")
    }
    if (GraftPathRelationRule.resolvesAsPath(session, Seq("graft", nameStr)))
      nameStr
    else org.apache.spark.sql.graftshim.GraftSqlBridge
      .graftTablePath(session, nameStr.split('.').toSeq)
      .getOrElse(throw new IllegalArgumentException(
        s"$fn: '$nameStr' is neither a graft table directory " +
          "nor a USING graft catalog table"))
  }

  /** `table_version_bounds('dir-or-table')` — the CDF consumer's
    * resync handle: one row `(earliest_version, latest_version)` of
    * the manifests still present (vacuum drops a prefix, so a
    * `table_changes` start below `earliest_version` fails loudly; the
    * consumer restarts from this TVF's lower bound — the same contract
    * [[graft.operators.Versioned.pollChanges]] implements with its
    * `resync` flag). (-1, -1) for an empty table.
    *
    * SNAPSHOT SEMANTICS, by design: the bounds are resolved at
    * ANALYSIS time and embedded as a literal relation — the same
    * moment `table_changes`' version arguments and `VERSION AS OF`
    * pins resolve, so one resync statement sees ONE consistent log
    * state. Each `spark.sql(...)` call re-resolves fresh (the resync
    * loop's usage); what does NOT refresh is a long-lived cached plan
    * over this TVF — a named VIEW or `.cache()` holding the analyzed
    * plan returns the bounds from when it was analyzed, exactly like a
    * view over `VERSION AS OF`. Re-issue the query (or re-create the
    * view) to observe later commits or vacuums. */
  private def versionBoundsPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 1,
      s"table_version_bounds expects (table); got ${args.size} args")
    args.foreach(a => require(a.resolved && a.foldable,
      s"table_version_bounds arguments must be literals: `${a.sql}`"))
    val dir = tvfTableDir("table_version_bounds", args.head)
    val (lo, hi) = graft.operators.Versioned.versionBounds(session, dir)
    import session.implicits._
    SubqueryAlias("table_version_bounds",
      Seq((lo, hi)).toDF("earliest_version", "latest_version")
        .queryExecution.analyzed)
  }

  /** `table_changes('dir-or-table', start [, end])` — Delta's CDF TVF:
    * resolves to [[graft.operators.Versioned.tableChanges]]'s plan
    * (inclusive start, row-level `_change_type` / `_commit_version` /
    * `_commit_timestamp` columns). Version args are literal numbers or
    * timestamp strings (resolved via the manifest commit instants). */
  private def tableChangesPlan(
      args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2 || args.size == 3,
      s"table_changes expects (table, startVersion[, endVersion]); got ${args.size} args")
    args.foreach(a => require(a.resolved && a.foldable,
      s"table_changes arguments must be literals: `${a.sql}`"))
    val dir = tvfTableDir("table_changes", args.head)
    def versionOf(e: Expression): Long = (e.eval(), e.dataType) match {
      // the TimestampType arm MUST precede the Number arm: a timestamp
      // literal evals to a boxed Long of micros, which Number would
      // swallow as a (nonsensical) raw version number
      case (micros: Long, org.apache.spark.sql.types.TimestampType) =>
        graft.operators.Versioned.versionAt(session, dir,
          java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS))
      case (micros: Long, org.apache.spark.sql.types.TimestampNTZType) =>
        // no-timezone micros read as UTC (the session convention)
        graft.operators.Versioned.versionAt(session, dir,
          java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS))
      case (days: Integer, org.apache.spark.sql.types.DateType) =>
        graft.operators.Versioned.versionAt(session, dir,
          java.time.Instant.EPOCH.plus(days.longValue(), java.time.temporal.ChronoUnit.DAYS))
      case (n: Number, _) => n.longValue()
      case (s: org.apache.spark.unsafe.types.UTF8String, _)
          if s.toString.trim.matches("\\d+") => s.toString.trim.toLong
      case (s: org.apache.spark.unsafe.types.UTF8String, _) =>
        graft.operators.Versioned.versionAt(
          session, dir, GraftDml.parseInstant(s.toString))
      case (v, dt) => throw new IllegalArgumentException(
        s"table_changes: unsupported version argument $v ($dt)")
    }
    val from = versionOf(args(1))
    val to = if (args.size == 3) versionOf(args(2)) else -1L
    SubqueryAlias("table_changes",
      graft.operators.Versioned.tableChanges(session, dir, from, to)
        .queryExecution.analyzed)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction(
          Seq(fn), args, _) if fn.equalsIgnoreCase("table_changes") =>
        tableChangesPlan(args)
      case org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction(
          Seq(fn), args, _) if fn.equalsIgnoreCase("table_version_bounds") =>
        versionBoundsPlan(args)
      case tt @ org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
          u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation, ts, ver) =>
        pathOf(u) match {
          case Some(dir) =>
            val v = (ver, ts) match {
              case (Some(s), _) =>
                try s.toLong catch { case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"graft VERSION AS OF must be a version number: '$s'") }
              case (None, Some(e)) =>
                graft.operators.Versioned.versionAt(session, dir, instantOf(e))
              case (None, None) => -1L
            }
            relation(dir, v)
          case None => tt
        }
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if GraftPathRelationRule.resolvesAsPath(session, u.multipartIdentifier) =>
        relation(u.multipartIdentifier(1), -1L)
    }
}

private[graft] object GraftPathRelationRule {
  /** ``graft.`x``` claims the identifier ONLY when `x` looks like a
    * filesystem path (Delta's ``delta.`x``` rule) — a real catalog
    * database named `graft` must stay resolvable; its graft-provider
    * tables still time-travel via the catalog lookup branch. */
  def isPathForm(parts: Seq[String]): Boolean =
    parts.size == 2 && parts.head.equalsIgnoreCase("graft") && {
      val p = parts(1)
      p.contains("/") || p.contains("\\")
    }

  /** [[isPathForm]] plus a filesystem probe: ``graft.`x``` with a
    * single-segment x (no slash) is ALSO the path form when `x` names
    * an existing directory holding a `_versions/` manifest log — a
    * relative single-segment path is a legitimate spelling, and
    * without the probe it silently changed meaning to a lookup in a
    * database literally named `graft`. Probe order keeps one spelling
    * = one resolution: an actual versioned directory wins; otherwise
    * the catalog path is tried (a database named graft keeps working
    * as long as its table names don't shadow a live table directory
    * in the working directory — the same shadowing rule Delta's
    * ``delta.`x``` applies). */
  def resolvesAsPath(session: SparkSession, parts: Seq[String]): Boolean =
    isPathForm(parts) || (
      parts.size == 2 && parts.head.equalsIgnoreCase("graft") &&
        scala.util.Try {
          val p = new org.apache.hadoop.fs.Path(parts(1), "_versions")
          p.getFileSystem(session.sparkContext.hadoopConfiguration).exists(p)
        }.getOrElse(false))
}

/** Match a (possibly aliased) resolved reference to a graft table and
  * yield its tableDir. */
private[graft] object GraftTarget {
  def unapply(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => unapply(child)
    case l: LogicalRelation =>
      l.relation match {
        case g: GraftRelation => Some(g.tableDir)
        case _ => None
      }
    case _ => None
  }
}

/** Analyzer rule: swap resolved DML plans over graft relations for
  * runnable commands. Runs inside the main resolution fixed point, so
  * by the time the statement would hit checkAnalysis ("DELETE is only
  * supported with v2 tables") it is already a graft command. */
object GraftDmlRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(GraftTarget(dir), cond) if d.resolved =>
      val (condNs, scalars) = extractScalars(cond, "DELETE condition")
      if (scalars.nonEmpty)
        GraftDeleteCommand(dir, detach(condNs, "DELETE condition"), scalars)
      else splitInSubquery(cond, "DELETE condition") match {
        case None =>
          GraftDeleteCommand(dir, detach(cond, "DELETE condition"))
        case Some((keyCols, keysPlan, residual, negation)) =>
          GraftDmlKeysCommand(dir, keyCols, keysPlan,
            residual.map(detachTgt(_, "DELETE condition")), sets = Seq.empty,
            negation = negation)
      }

    case u @ UpdateTable(GraftTarget(dir), assignments, cond) if u.resolved =>
      val sets = assignments.map { case Assignment(key, value) =>
        val name = key match {
          case a: AttributeReference => a.name
          case other => throw new UnsupportedOperationException(
            "graft UPDATE supports only top-level column assignments " +
              s"(got `${other.sql}`)")
        }
        // ANSI-cast the value to the column's type (Delta does the
        // same); Versioned.update refuses type-changing rewrites.
        name -> (detach(value, s"UPDATE SET $name"), key.dataType)
      }
      val scalarSplit = cond.map(extractScalars(_, "UPDATE condition"))
      if (scalarSplit.exists(_._2.nonEmpty)) {
        val (condNs, scalars) = scalarSplit.get
        GraftUpdateCommand(dir,
          Some(detach(condNs, "UPDATE condition")), sets, scalars)
      } else cond.flatMap(splitInSubquery(_, "UPDATE condition")) match {
        case None =>
          GraftUpdateCommand(dir,
            cond.map(detach(_, "UPDATE condition")), sets)
        case Some((keyCols, keysPlan, residual, negation)) =>
          val tgtSets = assignments.map { case Assignment(key, value) =>
            val name = key.asInstanceOf[AttributeReference].name
            (name, detachTgt(value, s"UPDATE SET $name"), key.dataType)
          }
          GraftDmlKeysCommand(dir, keyCols, keysPlan,
            residual.map(detachTgt(_, "UPDATE condition")), sets = tgtSets,
            negation = negation)
      }

    case m: MergeIntoTable if m.targetTable.resolved && m.sourceTable.resolved =>
      m.targetTable match {
        case GraftTarget(dir) => translateMerge(m, dir)
        case _ => plan
      }

    case _ => plan
  }

  /** Resolved expressions are bound to THIS plan's attribute ids; the
    * command re-reads the table at run time, so bound references must
    * become unresolved names that re-resolve against the fresh scan.
    * Subqueries cannot be detached — refuse them (IN-subquery
    * conditions take the [[splitInSubquery]] path instead). */
  private def detach(e: Expression, what: String): String = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"graft DML: subqueries are supported only as a top-level " +
        s"`col IN (SELECT ...)` conjunct of the $what (evaluated against " +
        "the pre-image, as Delta does); other subquery shapes are not")
    e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }.sql
  }

  /** [[detach]] with TGT-qualified names — for expressions evaluated in
    * [[graft.operators.Versioned.mergeClauses]]' joined TGT/SRC scope,
    * where a bare target column name would be ambiguous with the
    * source's key column. */
  private def detachTgt(e: Expression, what: String): String = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"graft DML: only one `col IN (SELECT ...)` conjunct is supported " +
        s"in the $what; the residual must be subquery-free")
    e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq("TGT", a.name))
    }.sql
  }

  /** Extract uncorrelated SCALAR subqueries from a DELETE/UPDATE
    * condition: each becomes a placeholder attribute whose value the
    * command computes against the PRE-IMAGE at run time (one bounded
    * one-row collect per subquery — `WHERE w < (SELECT avg(w) FROM t)`
    * evaluates avg on the old version, Delta's semantics) and
    * substitutes back as a typed literal, so the remaining condition is
    * row-local and stats pruning sees a plain literal comparison.
    * Correlated scalar subqueries refuse. */
  private def extractScalars(
      e: Expression, what: String)
      : (Expression, Seq[(String, LogicalPlan, org.apache.spark.sql.types.DataType)]) = {
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(String, LogicalPlan, org.apache.spark.sql.types.DataType)]
    val out = e.transform {
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
        if (s.outerAttrs.nonEmpty)
          throw new UnsupportedOperationException(
            s"graft DML: correlated scalar subqueries are not supported " +
              s"in the $what (only uncorrelated ones, evaluated against " +
              "the pre-image)")
        val name = s"__graft_scalar_${acc.size}"
        acc += ((name, s.plan, s.dataType))
        UnresolvedAttribute(name)
    }
    (out, acc.toSeq)
  }

  /** Delta-style subquery support for DELETE/UPDATE conditions:
    * accepts `cond` shaped as a conjunction with EXACTLY ONE subquery
    * conjunct of a supported shape — evaluated against the PRE-IMAGE,
    * then delegated to the merge-clause COW:
    *
    *  - `(col[, col...]) IN (SELECT ...)` — uncorrelated; the key set
    *    drives MATCHED clauses (the existing path);
    *  - `col NOT IN (SELECT ...)` — uncorrelated, SINGLE column, with
    *    the ANSI NULL semantics: any NULL in the subquery result means
    *    NO row matches (no-op); a NULL `col` never matches a non-empty
    *    set; an EMPTY set matches every row (NULL col included). Runs
    *    as a NOT-MATCHED-BY-SOURCE clause over the materialized keys.
    *    MULTI-COLUMN NOT IN evaluates the (bounded) tuple set as a
    *    literal predicate under Spark's own three-valued logic — exact
    *    ANSI tuple semantics, refused loudly past
    *    `spark.graft.dml.notInLiteralLimit` (use NOT EXISTS there);
    *  - `EXISTS (SELECT ... WHERE inner = t.col [AND local...])` —
    *    correlated by key equalities only: the correlation strips to a
    *    key projection and rides the IN path;
    *  - `NOT EXISTS (...)` — same extraction, runs by-source: target
    *    rows matching NO key are claimed (a NULL target key never
    *    matches, so NOT EXISTS claims it — unlike NOT IN).
    *
    * The remaining conjuncts must be subquery-free. Returns (key
    * column names, the analyzed keys plan, the residual condition, the
    * negation mode "" | "not_in" | "not_exists"). None = no subquery
    * anywhere. Any other shape raises — never a wrong result. */
  private def splitInSubquery(
      cond: Expression,
      what: String): Option[(Seq[String], LogicalPlan, Option[Expression], String)] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Exists, InSubquery, Not, OuterReference}
    if (!cond.exists(_.isInstanceOf[SubqueryExpression])) return None
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val cs = conjuncts(cond)
    val (subq, residualTerms) = cs.partition(_.exists(_.isInstanceOf[SubqueryExpression]))
    def unsupported(why: String): Nothing =
      throw new UnsupportedOperationException(
        s"graft DML: the $what supports subqueries only as ONE top-level " +
          s"IN / NOT IN / EXISTS / NOT EXISTS conjunct (evaluated against " +
          s"the pre-image); $why")
    if (subq.size != 1)
      unsupported(s"found ${subq.size} subquery conjuncts")
    residualTerms.foreach { r =>
      if (r.exists(_.isInstanceOf[SubqueryExpression]))
        unsupported(s"residual conjunct `${r.sql}` contains a subquery")
    }
    val residual = residualTerms.reduceOption(And(_, _))
    def bareCols(values: Seq[Expression]): Seq[String] = values.map {
      case a: AttributeReference => a.name
      case other => unsupported(
        s"IN operand `${other.sql}` is not a bare column (type " +
          "coercion casts are refused: the key join must be exact)")
    }
    /** Correlated EXISTS plan → (target key names, inner keys plan):
      * the subquery's top filter must correlate ONLY via equalities
      * `inner = outer(target col)`; local conjuncts stay as the inner
      * filter, and the inner key columns project out. */
    def stripExists(plan: LogicalPlan): (Seq[String], LogicalPlan) = {
      def hasOuter(p: LogicalPlan): Boolean =
        p.expressions.exists(_.exists(_.isInstanceOf[OuterReference])) ||
          p.children.exists(hasOuter)
      def descend(p: LogicalPlan): (Seq[String], LogicalPlan) = p match {
        case Project(_, child) => descend(child)
        case SubqueryAlias(_, child) => descend(child)
        case Filter(c, child) =>
          if (hasOuter(child))
            unsupported("EXISTS correlation below the subquery's top " +
              "filter (join/nested correlation) is not supported")
          val (corr, local) = conjuncts(c)
            .partition(_.exists(_.isInstanceOf[OuterReference]))
          if (corr.isEmpty)
            unsupported("EXISTS correlates outside its top filter")
          val pairs = corr.map {
            case org.apache.spark.sql.catalyst.expressions.EqualTo(
                a: AttributeReference, OuterReference(t: AttributeReference)) =>
              (t.name, a)
            case org.apache.spark.sql.catalyst.expressions.EqualTo(
                OuterReference(t: AttributeReference), a: AttributeReference) =>
              (t.name, a)
            case other => unsupported(
              s"EXISTS correlation `${other.sql}` is not an equality " +
                "between an inner column and a target column")
          }
          val inner = local.reduceOption(And(_, _))
            .map(Filter(_, child)).getOrElse(child)
          (pairs.map(_._1), Project(pairs.map(_._2), inner))
        case other =>
          if (hasOuter(other))
            unsupported("EXISTS correlates outside a recognizable top filter")
          unsupported("uncorrelated EXISTS — it is a constant condition; " +
            "rewrite it as a literal or a scalar-subquery comparison")
      }
      descend(plan)
    }
    subq.head match {
      case InSubquery(values, q) =>
        if (q.isCorrelated || q.outerAttrs.nonEmpty)
          unsupported("the IN subquery is correlated")
        Some((bareCols(values), q.plan, residual, ""))
      case Not(InSubquery(values, q)) =>
        if (q.isCorrelated || q.outerAttrs.nonEmpty)
          unsupported("the NOT IN subquery is correlated")
        // Single-column NOT IN rides the scalable by-source path (its
        // ANSI traps reduce to three driver-side facts). MULTI-COLUMN
        // tuples cannot: a row with a NULL key column may still be
        // claimed when every tuple fails on ANOTHER column, so the
        // semantics are inherently per-row-per-tuple — the command
        // materializes the (bounded) tuple set into a literal
        // predicate Spark's own three-valued logic evaluates exactly.
        if (values.size != 1)
          Some((bareCols(values), q.plan, residual, "not_in_multi"))
        else Some((bareCols(values), q.plan, residual, "not_in"))
      case e: Exists =>
        if (e.outerAttrs.isEmpty)
          unsupported("uncorrelated EXISTS — it is a constant condition; " +
            "rewrite it as a literal or a scalar-subquery comparison")
        val (keyCols, plan) = stripExists(e.plan)
        Some((keyCols, plan, residual, ""))
      case Not(e: Exists) =>
        if (e.outerAttrs.isEmpty)
          unsupported("uncorrelated NOT EXISTS — it is a constant " +
            "condition; rewrite it as a literal or a scalar-subquery " +
            "comparison")
        val (keyCols, plan) = stripExists(e.plan)
        Some((keyCols, plan, residual, "not_exists"))
      case other =>
        unsupported(s"`${other.sql}` is not an IN / NOT IN / EXISTS / " +
          "NOT EXISTS subquery conjunct")
    }
  }

  private def translateMerge(m: MergeIntoTable, dir: String): LogicalPlan = {
    def unsupported(why: String): Nothing =
      throw new UnsupportedOperationException(
        s"graft MERGE INTO supports UPDATE SET .../DELETE matched clauses, " +
          s"INSERT * / INSERT (cols) VALUES (...) not-matched clauses, and " +
          s"NOT MATCHED BY SOURCE UPDATE/DELETE, ON at least one " +
          s"target=source key equality (same- or differently-named) plus " +
          s"optional row-local residual conjuncts; $why")
    val tgtIds = m.targetTable.outputSet
    val srcIds = m.sourceTable.outputSet

    // ON clause split: key equalities (a target column = a source
    // column, names may differ — a source-side rename rides the
    // same-named path) vs RESIDUAL conjuncts (any other row-local term;
    // matched-ness = keys AND residual, the ANSI reading).
    def conjunctsOf(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjunctsOf(l) ++ conjunctsOf(r)
      case other => Seq(other)
    }
    if (!m.mergeCondition.resolved)
      return m // let resolution finish; we fire on a later iteration
    val (keyTerms, residualTerms) =
      conjunctsOf(m.mergeCondition).partitionMap {
        case eq @ EqualTo(a: AttributeReference, b: AttributeReference)
            if (tgtIds.contains(a) && srcIds.contains(b)) ||
              (tgtIds.contains(b) && srcIds.contains(a)) =>
          val (t, s) =
            if (tgtIds.contains(a)) (a, b) else (b, a)
          val _ = eq
          Left((t.name, s.name))
        case other => Right(other)
      }
    if (keyTerms.isEmpty)
      unsupported("the ON clause has no target=source column equality — " +
        "the COW merge needs at least one key to prune and join on")
    val keyCols = keyTerms.map(_._1)
    if (keyCols.map(_.toLowerCase).distinct.size != keyCols.size)
      unsupported("the ON clause equates one target column with multiple " +
        "source columns")
    val keyRenames = keyTerms.filterNot { case (t, s) =>
      t.equalsIgnoreCase(s)
    }

    // Matched: UPDATE SET * (either still a star action, or the
    // analyzer-expanded all-columns col = source.col form). The
    // assignment list must COVER every target column — a partial
    // name-matched list (`SET v = s.v`) is NOT a star action.
    val nTargetCols = m.targetTable.output.size
    def isStarUpdate(a: MergeAction): Boolean = a match {
      case UpdateStarAction(None) => true
      case ua: UpdateAction =>
        ua.condition.isEmpty && ua.assignments.size == nTargetCols &&
          ua.assignments.forall {
            case Assignment(k: AttributeReference, v: AttributeReference) =>
              k.name.equalsIgnoreCase(v.name) && srcIds.contains(v)
            case _ => false
          }
      case _ => false
    }
    // star-shaped INSERT, condition allowed (handled separately)
    def isStarInsert(a: MergeAction): Boolean = a match {
      case InsertStarAction(_) => true
      case ia: InsertAction =>
        ia.assignments.size == nTargetCols && ia.assignments.forall {
          case Assignment(k: AttributeReference, v: AttributeReference) =>
            k.name.equalsIgnoreCase(v.name) && srcIds.contains(v)
          case _ => false
        }
      case _ => false
    }
    def conditionFree(a: MergeAction): Boolean = a match {
      case ua: UpdateAction => ua.condition.isEmpty
      case ia: InsertAction => ia.condition.isEmpty
      case UpdateStarAction(c) => c.isEmpty
      case InsertStarAction(c) => c.isEmpty
      case DeleteAction(c) => c.isEmpty
      case _ => false
    }
    (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
      // the tuned replace-by-key fast path: unconditional SET * / INSERT *
      // over same-named keys with no ON residual
      case (Seq(up), Seq(ins), Seq()) if isStarUpdate(up) && isStarInsert(ins)
          && conditionFree(up) && conditionFree(ins)
          && keyRenames.isEmpty && residualTerms.isEmpty =>
        GraftMergeCommand(dir, m.sourceTable, keyCols)
      case (matched, notMatched, bySource) =>
        // GENERAL clause translation → Versioned.mergeClauses. Bound
        // references become TGT./SRC.-qualified names resolved against
        // the operator's join aliases at run time.
        def detachM(e: Expression, what: String): String = {
          require(!e.exists(_.isInstanceOf[SubqueryExpression]),
            s"graft MERGE: subqueries are not supported in the $what")
          e.transform {
            case a: AttributeReference if srcIds.contains(a) =>
              UnresolvedAttribute(Seq("SRC", a.name))
            case a: AttributeReference if tgtIds.contains(a) =>
              UnresolvedAttribute(Seq("TGT", a.name))
          }.sql
        }
        def detachTgtOnly(e: Expression, what: String): String = {
          e.foreach {
            case a: AttributeReference if srcIds.contains(a) =>
              unsupported(s"$what may reference only the target row " +
                s"(found source column `${a.name}`)")
            case _ => ()
          }
          detachM(e, what)
        }
        def assignsOf(as: Seq[Assignment], what: String): Seq[(String, String)] =
          as.map {
            case Assignment(k: AttributeReference, value) =>
              k.name -> detachM(value, s"$what SET ${k.name}")
            case Assignment(other, _) => unsupported(
              s"$what assignment target `${other.sql}` is not a column")
          }
        // INSERT * needs every target column present in the source BY
        // NAME — with a renamed key the source does not carry the
        // target's key name, so the star shape cannot be satisfied
        // honestly (Delta refuses it the same way).
        if (keyRenames.nonEmpty && notMatched.exists(_.isInstanceOf[InsertStarAction]))
          unsupported("INSERT * with differently-named ON keys — the " +
            "source has no column named after the target key; list the " +
            "columns explicitly: INSERT (cols) VALUES (...)")
        val sqlClauses: Seq[SqlMergeClause] =
          matched.map {
            case ua: UpdateAction => SqlMergeClause("matched_update",
              ua.condition.map(detachM(_, "WHEN MATCHED condition")),
              assignsOf(ua.assignments, "WHEN MATCHED UPDATE"))
            case UpdateStarAction(cond) => SqlMergeClause("matched_update",
              cond.map(detachM(_, "WHEN MATCHED condition")),
              Seq.empty) // empty = SET * (filled from the table schema at run)
            case DeleteAction(cond) => SqlMergeClause("matched_delete",
              cond.map(detachM(_, "WHEN MATCHED condition")), Seq.empty)
            case other => unsupported(
              s"matched action ${other.getClass.getSimpleName}")
          } ++ notMatched.map {
            case a if isStarInsert(a) || a.isInstanceOf[InsertStarAction] =>
              val cond = a match {
                case ia: InsertAction => ia.condition
                case InsertStarAction(c) => c
                case _ => None
              }
              SqlMergeClause("not_matched_insert",
                cond.map(detachM(_, "WHEN NOT MATCHED condition")), Seq.empty)
            case ia: InsertAction =>
              // Partial-column INSERT (c1, c2) VALUES (...): listed
              // columns take their expression, UNLISTED columns are NULL
              // — Delta's semantic, and the reference's own upsert shape
              // (pk ∪ update columns, the rest NULL).
              ia.assignments.foreach(a => a.value.foreach {
                case ar: AttributeReference if tgtIds.contains(ar) =>
                  unsupported("WHEN NOT MATCHED INSERT values may reference " +
                    s"only the source row (found target column `${ar.name}`)")
                case _ => ()
              })
              SqlMergeClause("not_matched_insert",
                ia.condition.map(detachM(_, "WHEN NOT MATCHED condition")),
                assignsOf(ia.assignments, "WHEN NOT MATCHED INSERT"))
            case other => unsupported(
              s"WHEN NOT MATCHED action ${other.getClass.getSimpleName}")
          } ++ bySource.map {
            case ua: UpdateAction => SqlMergeClause("by_source_update",
              ua.condition.map(detachTgtOnly(_, "WHEN NOT MATCHED BY SOURCE condition")),
              assignsOf(ua.assignments, "WHEN NOT MATCHED BY SOURCE UPDATE")
                .map { case (k, v) => k -> v }) // values target-only checked below
            case DeleteAction(cond) => SqlMergeClause("by_source_delete",
              cond.map(detachTgtOnly(_, "WHEN NOT MATCHED BY SOURCE condition")),
              Seq.empty)
            case other => unsupported(
              s"by-source action ${other.getClass.getSimpleName}")
          }
        // by-source update VALUES must be target-only too
        bySource.foreach {
          case ua: UpdateAction => ua.assignments.foreach { a =>
            a.value.foreach {
              case ar: AttributeReference if srcIds.contains(ar) =>
                unsupported("WHEN NOT MATCHED BY SOURCE UPDATE values may " +
                  s"reference only the target row (found `${ar.name}`)")
              case _ => ()
            }
          }
          case _ => ()
        }
        val residualSql = residualTerms
          .reduceOption(org.apache.spark.sql.catalyst.expressions.And(_, _))
          .map(detachM(_, "ON residual condition"))
        GraftMergeClausesCommand(dir, m.sourceTable, keyCols, sqlClauses,
          keyRenames = keyRenames, onResidualSql = residualSql)
    }
  }
}

private[graft] object GraftDmlScalars {
  /** Evaluate each extracted scalar-subquery plan against the PRE-IMAGE
    * (one bounded collect apiece — scalar by SQL contract) and
    * substitute the typed literals into the condition. */
  def substitute(
      spark: SparkSession,
      cond: org.apache.spark.sql.Column,
      scalars: Seq[(String, LogicalPlan, org.apache.spark.sql.types.DataType)])
      : org.apache.spark.sql.Column =
    if (scalars.isEmpty) cond
    else {
      val subs = scalars.map { case (name, plan, dt) =>
        val rows = GraftDml.ofRows(spark, plan).limit(2).collect()
        require(rows.length <= 1,
          "graft DML: a scalar subquery returned more than one row")
        val v = if (rows.isEmpty || rows(0).isNullAt(0)) null else rows(0).get(0)
        name -> ((v: Any, dt))
      }.toMap
      org.apache.spark.sql.graftshim.GraftSqlBridge.substituteScalars(cond, subs)
    }
}

private[graft] final case class GraftDeleteCommand(
    tableDir: String,
    condSql: String,
    scalars: Seq[(String, LogicalPlan, org.apache.spark.sql.types.DataType)] =
      Seq.empty)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = scalars.map(_._2)
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    Versioned.delete(spark, tableDir)(
      GraftDmlScalars.substitute(spark, expr(condSql), scalars))
    Seq.empty
  }
}

private[graft] final case class GraftUpdateCommand(
    tableDir: String,
    condSql: Option[String],
    sets: Seq[(String, (String, org.apache.spark.sql.types.DataType))],
    scalars: Seq[(String, LogicalPlan, org.apache.spark.sql.types.DataType)] =
      Seq.empty)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = scalars.map(_._2)
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val cond = GraftDmlScalars.substitute(spark,
      condSql.map(expr).getOrElse(org.apache.spark.sql.functions.lit(true)),
      scalars)
    val assignments = sets.map { case (name, (valueSql, dt)) =>
      name -> expr(valueSql).cast(dt)
    }
    Versioned.update(spark, tableDir, cond, assignments: _*)
    Seq.empty
  }
}

/** DELETE/UPDATE whose condition carries an IN / EXISTS / NOT IN /
  * NOT EXISTS subquery: the subquery is evaluated against the
  * PRE-IMAGE (Delta's semantics — the merge operator caps the source's
  * lineage before any write, so a subquery over the target itself
  * reads the old version), then the existing merge-clause COW runs
  * keyed on the materialized set: source key range → candidate groups
  * → one probe for the groups holding a claimed row, untouched groups
  * metadata-only.
  * Empty `sets` = DELETE; else UPDATE.
  *
  * `negation`: "" = the positive key-set path (IN / EXISTS rows become
  * MATCHED clauses); "not_exists" = the same key set drives
  * NOT-MATCHED-BY-SOURCE clauses (rows matching NO key are claimed —
  * a NULL target key never matches, so NOT EXISTS claims it);
  * "not_in" = by-source WITH the ANSI NULL semantics — any NULL in the
  * materialized set means no row matches (no-op), a NULL target key
  * never matches a NON-empty set (guarded), and an empty set claims
  * everything, NULL keys included; "not_in_multi" = the tuple flavor,
  * evaluated as a bounded literal predicate (see the run method). */
private[graft] final case class GraftDmlKeysCommand(
    tableDir: String,
    keyCols: Seq[String],
    keysPlan: LogicalPlan,
    residualSql: Option[String],
    sets: Seq[(String, String, org.apache.spark.sql.types.DataType)],
    negation: String = "")
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(keysPlan)
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.operators.Versioned.MergeClause._
    import org.apache.spark.sql.functions.{col, count, lit}
    val keys = GraftDml.ofRows(spark, keysPlan).toDF(keyCols: _*).distinct()
    val cond = residualSql.map(expr)
    val assigns = sets.map { case (name, valueSql, dt) =>
      name -> expr(valueSql).cast(dt)
    }
    negation match {
      case "" =>
        val clause =
          if (sets.isEmpty) MatchedDelete(cond)
          else MatchedUpdate(assigns, cond)
        Versioned.mergeClauses(spark, tableDir, keys, keyCols, Seq(clause))
      case "not_in_multi" =>
        // ANSI tuple NOT IN, exactly: the row is claimed iff NO tuple
        // s has (r.c = s.c) non-FALSE on every column — i.e.
        // NOT(OR over tuples of AND over columns of r.c = lit(s.c))
        // under Spark's own three-valued logic (a NULL literal or a
        // NULL row column makes its conjunct UNKNOWN; delete keeps
        // UNKNOWN rows, ANSI). The tuple set materializes as LITERALS,
        // so it is bounded: past the limit the statement refuses
        // loudly (use NOT EXISTS for large sets — it scales as a
        // join).
        val limit = spark.conf.getOption("spark.graft.dml.notInLiteralLimit")
          .map(_.toInt).getOrElse(10000)
        val tuples = keys.limit(limit + 1).collect()
        val strip = org.apache.spark.sql.graftshim.GraftSqlBridge.stripTgtQualifier _
        if (tuples.length > limit)
          // Above the literal limit the SAME ANSI semantics run as a
          // null-aware anti-join mutation (the scale path) instead of
          // refusing — see [[notInMultiJoin]].
          return notInMultiJoin(spark, keys, cond.map(strip),
            sets.map { case (name, valueSql, dt) =>
              name -> strip(expr(valueSql).cast(dt)) })
        val types = keys.schema.fields.map(_.dataType)
        // BALANCED disjunction: a left-deep reduce of 10k Or nodes is
        // deep enough to StackOverflowError Catalyst's recursive tree
        // transforms; log-depth keeps the analyzer safe at the limit
        def balancedOr(es: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
          if (es.size == 1) es.head
          else {
            val (l, r) = es.splitAt(es.size / 2)
            balancedOr(l) || balancedOr(r)
          }
        val pred: org.apache.spark.sql.Column =
          if (tuples.isEmpty) lit(true) // empty set: NOT IN is TRUE for every row
          else !balancedOr(tuples.toSeq.map { row =>
            keyCols.zipWithIndex.map { case (c, i) =>
              col(c) === lit(row.get(i)).cast(types(i))
            }.reduce(_ && _)
          })
        // the residual and assignments are TGT-qualified for the
        // merge-clause scope; this path runs on the bare table
        val fullCond = cond.map(c => pred && strip(c)).getOrElse(pred)
        if (sets.isEmpty) Versioned.delete(spark, tableDir)(fullCond)
        else Versioned.update(spark, tableDir, fullCond,
          assigns.map { case (n, c) => n -> strip(c) }: _*)
      case "not_in" | "not_exists" =>
        val guards: Seq[org.apache.spark.sql.Column] =
          if (negation == "not_in") {
            // one bounded aggregate over the PRE-IMAGE key set decides
            // the two ANSI branches: a NULL in the set = global no-op;
            // a non-empty NULL-free set = NULL target keys are kept
            val r = keys.agg(count(lit(1)).as("n"),
              count(col(keyCols.head)).as("nn")).head()
            if (r.getLong(0) > r.getLong(1)) return Seq.empty // NULL ∈ S
            if (r.getLong(0) == 0L) Nil // empty S: TRUE for every row
            else Seq(col(s"TGT.${keyCols.head}").isNotNull)
          } else Nil
        val bsCond = (guards ++ cond.toSeq).reduceOption(_ && _)
        val clause =
          if (sets.isEmpty) NotMatchedBySourceDelete(bsCond)
          else NotMatchedBySourceUpdate(assigns, bsCond)
        Versioned.mergeClauses(spark, tableDir, keys, keyCols, Seq(clause))
      case other =>
        throw new IllegalStateException(s"unknown negation mode '$other'")
    }
    Seq.empty
  }

  /** Over-limit tuple NOT IN: the same ANSI three-valued semantics as
    * the literal predicate, evaluated as a NULL-AWARE ANTI-JOIN — the
    * 100 TB shape. Derivation: a row r is claimed iff NO tuple s has
    * `(r.c = s.c)` non-FALSE on every column, i.e. r survives an
    * anti-join under C(r,s) = AND_c(r.c IS NULL OR s.c IS NULL OR
    * r.c = s.c). The join decomposes so the DOMINANT volume never
    * sees a nested-loop:
    *   - non-NULL row vs non-NULL tuple: C is plain equality → ONE
    *     hash/sort-merge semi-join on all key columns (unlimited set
    *     size — this is the whole point of the fallback);
    *   - non-NULL row vs NULL-bearing tuple, and NULL-keyed row vs any
    *     tuple: genuinely non-equi (bounded nested-loop over the
    *     NULL-bearing residue, broadcast under
    *     `spark.graft.dml.notInJoinBroadcastRows`);
    *   - an all-NULL tuple makes every membership test UNKNOWN →
    *     global no-op, decided by one aggregate (matches the literal
    *     path, where such a predicate never evaluates TRUE).
    * The hit identities union on the scan's (rel, pos) row identity
    * and the claim lands on [[Versioned.mutateWhere]] — DV-vs-rewrite
    * economics included. */
  private def notInMultiJoin(
      spark: SparkSession, keys: org.apache.spark.sql.DataFrame,
      residual: Option[org.apache.spark.sql.Column],
      assigns: Seq[(String, org.apache.spark.sql.Column)]): Seq[Row] = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit, sum, when}
    val anyNullKey = keyCols.map(col(_).isNull).reduce(_ || _)
    val allNullKey = keyCols.map(col(_).isNull).reduce(_ && _)
    val skeys = keys.persist()
    try {
      val stats = skeys.agg(
        count(lit(1)).as("n"),
        sum(when(allNullKey, 1L).otherwise(0L)).as("all_null"),
        sum(when(anyNullKey, 1L).otherwise(0L)).as("any_null")).head()
      val (n, nAllNull, nAnyNull) =
        (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      if (nAllNull > 0) return Seq.empty // UNKNOWN everywhere: no-op
      val cap = spark.conf.getOption("spark.graft.dml.notInJoinBroadcastRows")
        .map(_.toLong).getOrElse(4000000L)
      val sIdx = keyCols.indices
      val sRen = keyCols.zipWithIndex.foldLeft(skeys) { case (d, (c, i)) =>
        d.withColumnRenamed(c, s"__s_$i") }
      val sNN = sRen.filter(sIdx.map(i => col(s"__s_$i").isNotNull).reduce(_ && _))
      val sNull = sRen.filter(sIdx.map(i => col(s"__s_$i").isNull).reduce(_ || _))
      val eqCond = keyCols.zipWithIndex.map { case (c, i) =>
        col(c) === col(s"__s_$i") }.reduce(_ && _)
      val nullAware = keyCols.zipWithIndex.map { case (c, i) =>
        col(c).isNull || col(s"__s_$i").isNull || col(c) === col(s"__s_$i")
      }.reduce(_ && _)
      val id = Seq("__dv_rel", "__dv_pos")
      // hits(df) = row identities for which SOME tuple is non-FALSE on
      // every column — the rows the NOT IN does NOT claim.
      def hits(df: DataFrame): DataFrame = {
        val dfNN = df.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
        val dfNull = df.filter(anyNullKey)
        val h1 = dfNN.join(sNN, eqCond, "left_semi").select(id.map(col): _*)
        val h2 =
          if (nAnyNull == 0L) Nil
          else if (nAnyNull <= cap)
            Seq(dfNN.join(broadcast(sNull), nullAware, "left_semi")
              .select(id.map(col): _*))
          else if (dfNN.isEmpty) Nil // h3's escape hatch, mirrored
          else
            // Same guard as h3: the null-aware condition has no hash
            // plan, so past the broadcast cap Spark would silently fall
            // back to a BroadcastNestedLoopJoin over the oversized key
            // set and fail opaquely (or OOM) — raise the descriptive
            // error instead.
            throw new UnsupportedOperationException(
              "graft DML: multi-column NOT IN with NULL-bearing key " +
                "tuples above spark.graft.dml.notInJoinBroadcastRows " +
                s"($cap) has no hash-join plan — exclude the " +
                "NULL-bearing tuples explicitly or rewrite as NOT EXISTS")
        val h3 =
          if (n <= cap)
            Seq(dfNull.join(broadcast(sRen), nullAware, "left_semi")
              .select(id.map(col): _*))
          else if (dfNull.isEmpty) Nil
          else throw new UnsupportedOperationException(
            "graft DML: multi-column NOT IN with NULL-keyed table rows and " +
              "a key set above spark.graft.dml.notInJoinBroadcastRows " +
              s"($cap) has no hash-join plan — exclude the NULL-keyed rows " +
              "explicitly or rewrite as NOT EXISTS")
        (Seq(h1) ++ h2 ++ h3).reduce(_ unionByName _)
      }
      // Each scan the mutation reads (probe, merge-on-read groups,
      // rewrite) is flagged hit-or-not against ONE lineage-capped hit
      // set, so its anti and semi branches and every write over it
      // reuse the set instead of re-running the table-vs-key-set joins.
      import graft.operators.Checkpoints.CapOps
      def flagged(df: DataFrame): DataFrame = {
        val h = hits(df).capLineage()
        df.join(h, id, "left_anti").withColumn("__nin", lit(true))
          .unionByName(df.join(h, id, "left_semi").withColumn("__nin", lit(false)))
      }
      val claimed = residual.foldLeft(col("__nin"))((c, r) => c && coalesce(r, lit(false)))
      Versioned.mutateWhere(spark, tableDir, None, claimed, assigns, flagged)
      Seq.empty
    } finally skeys.unpersist()
  }
}

private[graft] final case class GraftMergeCommand(
    tableDir: String, source: LogicalPlan, keyCols: Seq[String])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    Versioned.merge(spark, tableDir, GraftDml.ofRows(spark, source), keyCols)
    Seq.empty
  }
}

/** One translated SQL merge clause: condition and assignment values as
  * TGT./SRC.-qualified SQL strings ([[GraftDmlRule.translateMerge]]).
  * `matched_update` with empty assigns means SET * (all columns from
  * the same-named source columns). */
private[graft] final case class SqlMergeClause(
    kind: String, condSql: Option[String], assigns: Seq[(String, String)])

private[graft] final case class GraftMergeClausesCommand(
    tableDir: String,
    source: LogicalPlan,
    keyCols: Seq[String],
    clauses: Seq[SqlMergeClause],
    keyRenames: Seq[(String, String)] = Seq.empty,
    onResidualSql: Option[String] = None)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    import Versioned.MergeClause._
    val tableCols = Versioned.read(spark, tableDir).columns.toSeq
    val built = clauses.map { c =>
      val cond = c.condSql.map(expr)
      c.kind match {
        case "matched_update" =>
          val as =
            if (c.assigns.nonEmpty) c.assigns.map { case (k, v) => k -> expr(v) }
            else tableCols.map(col => col -> org.apache.spark.sql.functions
              .col(s"SRC.$col")) // SET *
          MatchedUpdate(as, cond)
        case "matched_delete" => MatchedDelete(cond)
        case "not_matched_insert" =>
          NotMatchedInsert(cond, c.assigns.map { case (k, v) => k -> expr(v) })
        case "by_source_update" =>
          NotMatchedBySourceUpdate(
            c.assigns.map { case (k, v) => k -> expr(v) }, cond)
        case "by_source_delete" => NotMatchedBySourceDelete(cond)
        case other => throw new IllegalStateException(s"unknown clause $other")
      }
    }
    // Differently-named ON keys (t.k = s.sk): the source is projected
    // with the target key name ADDED (original column kept — clause
    // expressions still say SRC.sk), then the same-named key machinery
    // runs unchanged. A source that already carries a column with the
    // target key's name is ambiguous and refuses.
    val src0 = GraftDml.ofRows(spark, source)
    val resolver = org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution
    keyRenames.foreach { case (tk, sk) =>
      if (src0.columns.exists(c => resolver(c, tk)))
        throw new UnsupportedOperationException(
          s"graft MERGE ON t.$tk = s.$sk: the source ALSO has a column " +
            s"named '$tk' — renaming the key onto it would shadow that " +
            "column in clause expressions; alias it away in the source")
    }
    val src = keyRenames.foldLeft(src0) { case (d, (tk, sk)) =>
      d.withColumn(tk, org.apache.spark.sql.functions.col(sk))
    }
    Versioned.mergeClauses(
      spark, tableDir, src, keyCols, built,
      onResidual = onResidualSql.map(expr))
    Seq.empty
  }
}

object GraftDml {

  /** ISO-8601 instants, or the SQL-ish `yyyy-MM-dd[ HH:mm:ss]` read as
    * UTC — the shapes users paste from `describeHistory` or a query.
    * Shared by the datasource's `timestampAsOf` option and SQL
    * `TIMESTAMP AS OF`. */
  private[sources] def parseInstant(s: String): java.time.Instant = {
    val t = s.trim
    scala.util.Try(java.time.Instant.parse(t)).getOrElse {
      val norm = if (t.contains(" ") || t.contains("T"))
        t.replace(' ', 'T')
      else s"${t}T00:00:00"
      java.time.LocalDateTime.parse(norm)
        .atOffset(java.time.ZoneOffset.UTC).toInstant
    }
  }

  /** A session on the SAME SparkContext with graft DML SQL enabled —
    * for contexts whose driver session was built without
    * `spark.sql.extensions` (the production path is the builder
    * config, exactly as with Delta). The session shares the context,
    * catalog metastore and data; only session state (temp views, conf
    * overrides) is its own. ONE extension session is kept per
    * SparkContext — repeated callers (every query of a pipeline) share
    * it instead of paying session-state spin-up each time. The
    * caller's active/default session registration is untouched. */
  def enabledSession(spark: SparkSession): SparkSession = synchronized {
    val sc = spark.sparkContext
    Option(sessions.get(sc)).getOrElse {
      val prevActive = SparkSession.getActiveSession
      val prevDefault = SparkSession.getDefaultSession
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s =
        try
          SparkSession.builder()
            .config(sc.getConf)
            .withExtensions(new GraftExtensions)
            .getOrCreate()
        finally {
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
          prevActive.foreach(SparkSession.setActiveSession)
          prevDefault.foreach(SparkSession.setDefaultSession)
        }
      sessions.put(sc, s)
      s
    }
  }

  private val sessions =
    new java.util.WeakHashMap[org.apache.spark.SparkContext, SparkSession]

  /** DataFrame over an analyzed logical plan (the MERGE source). */
  private[sources] def ofRows(
      spark: SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftshim.GraftSqlBridge.ofRows(spark, plan)
}
