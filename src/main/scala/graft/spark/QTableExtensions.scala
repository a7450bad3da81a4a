package graft.spark

import graft.format.{QTable, QTableFileIndex}
import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, SubqueryAlias, UpdateTable, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

/** Session extensions for the qtable DataSource:
  *
  * {{{
  *   spark-sql --conf spark.sql.extensions=graft.spark.QTableExtensions ...
  *   CREATE TEMPORARY VIEW imgs USING qtable OPTIONS (path '/t');
  *   INSERT INTO imgs SELECT ...;        -- a real commit-protocol append
  *   DELETE FROM imgs WHERE fmt = 'bmp'; -- metadata drops + MOR deletes
  * }}}
  *
  * Without these rules, SQL `INSERT INTO` against a qtable relation
  * would fall through to Spark's generic
  * `InsertIntoHadoopFsRelationCommand`, which writes raw parquet under
  * the relation's rootPaths — bypassing manifests, stats harvest and
  * the atomic version claim entirely (the qtable FileIndex synthesizes
  * rootPaths from manifest entries, so that fallback fails on the
  * filesystem rather than corrupting) — and `DELETE FROM` would be
  * rejected outright (Spark supports it only for DSv2 tables). The
  * rules reroute both through the engine's jobs —
  * the custom-`Rule[LogicalPlan]` integration point
  * `SparkSessionExtensions` exists for.
  *
  * Only relations created by [[QTableSource]] at the CURRENT MAIN HEAD
  * carry [[QTableFileIndex.insertRoot]]; a time-traveled or branch view
  * never matches (the rule skipping = the safe failure mode).
  */
class QTableExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule(s => new ResolveQTableInsert(s))
    e.injectResolutionRule(s => new ResolveQTableDelete(s))
    e.injectResolutionRule(s => new ResolveQTableUpdate(s))
    e.injectResolutionRule(s => new ResolveQTableMerge(s))
    // Hints batch (runs BEFORE Resolution): the built-in star expansion
    // would demand the derived `pbucket` column from the merge source
    // and fail analysis before any resolution rule could intervene
    e.injectHintResolutionRule(s => new ExpandQTableMergeStar(s))
    // ... but `HiveSessionStateBuilder`'s analyzer override forwards
    // extendedResolutionRules/postHocResolutionRules and DROPS injected
    // hint rules (Spark 4.1), so under spark-sql/Hive session state the
    // same expansion must happen even earlier: at parse time
    e.injectParser((s, delegate) => new QTableSqlParser(s, delegate))
    // SQL point lookups answer on the driver, as DataFrame ones do once
    // a QTable has registered the same strategy
    e.injectPlannerStrategy(_ => PointLookupStrategy)
  }
}

/** Delegating parser whose only change is running
  * [[QTableExtensions.expandMergeStar]] over freshly parsed plans —
  * the pre-analysis `INSERT *` fix that works under EVERY session
  * state builder (the Hints-batch rule above covers programmatic
  * plans under the in-memory builder, but Hive's analyzer override
  * loses injected hint rules). */
class QTableSqlParser(session: SparkSession,
    delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
  extends org.apache.spark.sql.catalyst.parser.ParserInterface {
  private def post(p: LogicalPlan): LogicalPlan =
    QTableExtensions.expandTimeTravel(session,
      QTableExtensions.expandMergeStar(session, p))
  override def parsePlan(sqlText: String): LogicalPlan =
    QTableExtensions.parseCall(sqlText)
      .getOrElse(post(delegate.parsePlan(sqlText)))
  override def parsePlanWithParameters(sqlText: String,
      ctx: org.apache.spark.sql.catalyst.parser.ParameterContext): LogicalPlan =
    QTableExtensions.parseCall(sqlText)
      .getOrElse(post(delegate.parsePlanWithParameters(sqlText, ctx)))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String) =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String) =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String) =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) =
    delegate.parseDataType(sqlText)
}

/** Expands `WHEN NOT MATCHED THEN INSERT *` over a qtable temp view
  * into an explicit same-name assignment list MINUS the derived
  * partition column `pbucket` (recomputed from the key on append).
  * Must run in the Hints batch: the built-in `ResolveReferences` both
  * resolves a merge's children and star-expands its actions within ONE
  * rule application, so an end-of-Resolution-batch rule never sees the
  * plan before the expansion fails on pbucket. The target is still an
  * `UnresolvedRelation` here — the qtable check goes through the
  * session catalog's temp-view registry instead of the plan. */
class ExpandQTableMergeStar(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    QTableExtensions.expandMergeStar(spark, plan)
}

/** Rewrites `MERGE INTO <qtable view> USING <source> ON ... WHEN ...`
  * into the engine's [[graft.jobs.MergeJob]]. Supported shapes are the
  * canonical lakehouse MERGE — everything MergeJob expresses:
  *
  *  - `ON t.image_id = s.<key>` (equi-join on the primary key; any
  *    other join condition is refused — the engine's CoW/MOR machinery
  *    is keyed);
  *  - `WHEN MATCHED [AND s.<boolCol>] THEN DELETE` (at most one; an
  *    unconditional delete synthesizes a constant-true flag);
  *  - `WHEN MATCHED THEN UPDATE SET t.c = s.c', ...` (unconditional,
  *    source-column values — arbitrary expressions belong in the
  *    source subquery, which SQL composes naturally);
  *  - `WHEN NOT MATCHED THEN INSERT *` (unconditional; without the
  *    clause, the command passes `insertUnmatched = false` and MergeJob
  *    suppresses unmatched source rows natively — no pre-job semi-join
  *    or key broadcast exists);
  *  - `WHEN NOT MATCHED BY SOURCE THEN DELETE` (mirror sync).
  *
  * Ordering rule: a conditional DELETE must precede the UPDATE (ANSI
  * first-match-wins is then exactly MergeJob's delete-flag split).
  * Unsupported clauses are refused with a message naming them — never
  * silently dropped. */
class ResolveQTableMerge(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression}
  import org.apache.spark.sql.catalyst.plans.logical._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m: MergeIntoTable if m.sourceTable.resolved &&
        m.mergeCondition.resolved && m.targetTable.resolved &&
        (m.matchedActions ++ m.notMatchedActions ++
          m.notMatchedBySourceActions).forall {
            case u: UpdateAction =>
              u.condition.forall(_.resolved) && u.assignments.forall(_.resolved)
            case i: InsertAction =>
              i.condition.forall(_.resolved) && i.assignments.forall(_.resolved)
            case a => a.condition.forall(_.resolved)
          } =>
      QTableExtensions.unwrap(m.targetTable) match {
        case lr: LogicalRelation
            if QTableExtensions.dmlRootOf(lr).isDefined =>
          translate(m, QTableExtensions.dmlRootOf(lr).get)
        case _ => m
      }
  }

  /** The analyzer aligns assignment values with `AssertNotNull` (non-
    * nullable target column) and `Cast` (type alignment) wrappers — both
    * re-applied by MergeJob's own declared-type cast, so look through. */
  private def bareValue(e: Expression): Expression = e match {
    case a: org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull =>
      bareValue(a.child)
    case c: org.apache.spark.sql.catalyst.expressions.Cast => bareValue(c.child)
    case other => other
  }

  private def refuse(what: String): Nothing =
    throw new IllegalArgumentException(
      s"MERGE INTO qtable: unsupported $what — supported: " +
        "ON t.image_id = s.<key>; WHEN MATCHED [AND s.<boolCol>] THEN " +
        "DELETE; WHEN MATCHED THEN UPDATE SET t.c = s.c; WHEN NOT " +
        "MATCHED THEN INSERT *; WHEN NOT MATCHED BY SOURCE THEN DELETE")

  private def translate(m: MergeIntoTable, root: String): LogicalPlan = {
    if (m.withSchemaEvolution) refuse("WITH SCHEMA EVOLUTION")
    val tgtOut = m.targetTable.outputSet
    val srcOut = m.sourceTable.outputSet
    def isTgt(e: Expression) = e.references.subsetOf(tgtOut)
    def isSrc(e: Expression) = e.references.subsetOf(srcOut)

    // ON t.image_id = s.<key>, either side order
    val srcKey = m.mergeCondition match {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (isTgt(a) && a.name == "image_id" && isSrc(b)) b.name
        else if (isTgt(b) && b.name == "image_id" && isSrc(a)) a.name
        else refuse(s"merge condition '${m.mergeCondition.sql}'")
      case other => refuse(s"merge condition '${other.sql}'")
    }

    // matched actions: optional leading conditional DELETE + optional
    // unconditional UPDATE (first-match-wins = MergeJob's flag split)
    var deleteSrcCol: Option[String] = None
    var updates: Seq[(String, String)] = Nil
    m.matchedActions match {
      case Seq() => ()
      case Seq(d: DeleteAction) =>
        deleteSrcCol = Some(d.condition.map(delFlag(_, srcOut)).getOrElse(""))
      case Seq(u: UpdateAction) => updates = updateSets(u, srcOut)
      case Seq(d: DeleteAction, u: UpdateAction) =>
        val flag = d.condition.getOrElse(refuse(
          "unconditional WHEN MATCHED THEN DELETE before an UPDATE " +
            "(the UPDATE could never fire)"))
        deleteSrcCol = Some(delFlag(flag, srcOut))
        updates = updateSets(u, srcOut)
      case other => refuse(s"matched-action shape (${other.map(_.getClass.getSimpleName).mkString(", ")})")
    }

    // not-matched: INSERT * only (explicit lists belong in the source)
    val insertStar = m.notMatchedActions match {
      case Seq() => false
      case Seq(i: InsertStarAction) =>
        if (i.condition.isDefined) refuse("conditional WHEN NOT MATCHED")
        true
      case Seq(i: InsertAction) =>
        if (i.condition.isDefined) refuse("conditional WHEN NOT MATCHED")
        // an explicit column list is fine when it is a same-name
        // source-column relabeling of INSERT * (the parser produces
        // this for INSERT (cols) VALUES (s.cols)); anything computed
        // is refused toward the source subquery
        val byName = i.assignments.forall { a =>
          (a.key, bareValue(a.value)) match {
            case (k: AttributeReference, v: AttributeReference) =>
              isSrc(v) && (k.name == v.name || v.name == srcKey)
            case _ => false
          }
        }
        if (!byName) refuse("computed INSERT values (compose them in the USING subquery)")
        true
      case other => refuse(s"not-matched-action shape (${other.map(_.getClass.getSimpleName).mkString(", ")})")
    }

    val nmbsDelete = m.notMatchedBySourceActions match {
      case Seq() => false
      case Seq(d: DeleteAction) if d.condition.isEmpty => true
      case other => refuse(s"not-matched-by-source shape (${other.map(_.getClass.getSimpleName).mkString(", ")})")
    }

    if (updates.isEmpty && deleteSrcCol.isEmpty && !insertStar && !nmbsDelete)
      refuse("MERGE with no actions")
    // INSERT * takes column c from source column c; an UPDATE feeding c
    // from a DIFFERENTLY-named source column would give inserts and
    // updates divergent values for one column — MergeJob reads one
    // source row for both, so this shape cannot be expressed
    if (insertStar && updates.exists { case (tc, sc) => tc != sc })
      refuse("UPDATE SET from a renamed source column combined with " +
        "INSERT * (alias the column in the USING subquery instead)")

    MergeIntoQTableCommand(root, m.sourceTable, srcKey, updates,
      deleteSrcCol, insertStar, nmbsDelete)
  }

  /** `WHEN MATCHED AND <flag>` — the flag must be a bare source boolean
    * column (MergeJob's deleteCol contract). */
  private def delFlag(e: Expression,
      srcOut: org.apache.spark.sql.catalyst.expressions.AttributeSet): String =
    e match {
      case a: AttributeReference
          if srcOut.contains(a) &&
            a.dataType == org.apache.spark.sql.types.BooleanType => a.name
      case other => refuse(s"matched-delete condition '${other.sql}' " +
        "(must be a bare boolean source column)")
    }

  /** UPDATE SET list: every value a bare source column (expressions
    * compose in the USING subquery); unconditional only. */
  private def updateSets(u: UpdateAction,
      srcOut: org.apache.spark.sql.catalyst.expressions.AttributeSet): Seq[(String, String)] = {
    if (u.condition.isDefined) refuse("conditional WHEN MATCHED UPDATE")
    u.assignments.map { a =>
      (a.key, bareValue(a.value)) match {
        case (k: AttributeReference, v: AttributeReference) if srcOut.contains(v) =>
          k.name -> v.name
        case (k, v) => refuse(s"UPDATE assignment '${k.sql} = ${v.sql}' " +
          "(values must be source columns; compute them in the USING subquery)")
      }
    }
  }
}

/** The rerouted MERGE — one commit through [[graft.jobs.MergeJob]]'s
  * copy-on-write path. The resolved source plan rides along and is
  * re-wrapped as a DataFrame at execution; target names are produced
  * by projection so renamed/differently-named source columns line up. */
case class MergeIntoQTableCommand(
    root: String,
    source: LogicalPlan,
    srcKey: String,
    updates: Seq[(String, String)],      // target col -> source col
    deleteSrcCol: Option[String],        // Some("") = unconditional delete
    insertStar: Boolean,
    nmbsDelete: Boolean) extends LeafRunnableCommand {
  import org.apache.spark.sql.functions._

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val t = QTable(root, spark)
    val src0 = org.apache.spark.sql.GraftBridge.ofRows(spark, source)
    val snapFields = t.currentSnapshot.schemaFields.map(_.name)
    val updTargets = updates.map(_._1).toSet
    // one projection builds the job's source: the key, each update
    // target from its source column, the delete flag, and (INSERT *)
    // every remaining table column the source exposes by name
    val delFlagCol = deleteSrcCol.map {
      case "" => lit(true).as("_graft_del")
      case c => col(c).cast("boolean").as("_graft_del")
    }
    val passThrough =
      if (!insertStar) Nil
      else snapFields.filter(c => c != "image_id" && c != "pbucket" &&
        !updTargets.contains(c) && src0.columns.contains(c)).map(col(_))
    val proj = col(srcKey).as("image_id") +:
      (updates.map { case (tc, sc) => col(sc).as(tc) } ++
        passThrough ++ delFlagCol.toSeq)
    // fixed outside the retry: a fresh id per attempt would orphan the
    // losing attempt's checkpoint instead of resuming it
    val jobId = java.util.UUID.randomUUID().toString
    graft.jobs.CommitRetry.withCommitRetry()(
      new graft.jobs.MergeJob(t, jobId,
        updateCols = updates.map(_._1),
        deleteCol = delFlagCol.map(_ => "_graft_del"),
        insertUnmatched = insertStar,
        mergeOnRead = graft.jobs.RowLevelWrite.mergeOnRead(t.property, "merge"),
        notMatchedBySourceDelete = nmbsDelete).run(src0.select(proj: _*)))
    Seq.empty
  }
}

/** Rewrites `UPDATE <qtable view> SET c = e, ... [WHERE <cond>]` into
  * the engine's [[graft.jobs.UpdateJob]] (copy-on-write: only files
  * holding matched rows rewrite; the CLI `update --set/--where`
  * semantics from SQL). Assignments and condition travel as SQL text
  * for the same replanning reason as the DELETE rule; only top-level
  * columns are assignable (nested-field SET has no engine analogue —
  * the schema is flat). */
class ResolveQTableUpdate(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u @ UpdateTable(tbl, assignments, cond)
        if assignments.forall(_.resolved) && cond.forall(_.resolved) =>
      QTableExtensions.unwrap(tbl) match {
        case lr: LogicalRelation
            if QTableExtensions.dmlRootOf(lr).isDefined =>
          def strip(e: org.apache.spark.sql.catalyst.expressions.Expression) =
            e.transform {
              case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
                a.withQualifier(Nil)
            }
          val sets = assignments.map { a =>
            val name = a.key match {
              case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
                ar.name
              case other => throw new IllegalArgumentException(
                s"only top-level columns can be assigned: ${other.sql}")
            }
            name -> strip(a.value).sql
          }
          UpdateQTableCommand(QTableExtensions.dmlRootOf(lr).get, sets,
            cond.map(c => strip(c).sql))
        case _ => u
      }
  }
}

/** The rerouted UPDATE — one commit through UpdateJob (stats-pruned
  * matched-file discovery; copy-on-write rewrite of only those files,
  * or merge-on-read when the table carries
  * `write.update.mode = merge-on-read` — the Iceberg property). */
case class UpdateQTableCommand(root: String, sets: Seq[(String, String)],
    condSql: Option[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{expr, lit}
    val t = QTable(root, spark)
    val jobId = java.util.UUID.randomUUID().toString // see MergeIntoQTableCommand
    graft.jobs.CommitRetry.withCommitRetry()(
      new graft.jobs.UpdateJob(t, jobId,
        mergeOnRead = graft.jobs.RowLevelWrite.mergeOnRead(t.property, "update"))
        .run(
          sets.map { case (c, s) => c -> expr(s) },
          condSql.map(expr).getOrElse(lit(true))))
    Seq.empty
  }
}

/** Rewrites `DELETE FROM <qtable view> WHERE <cond>` into the engine's
  * [[graft.jobs.DeleteJob]]: stats-provable whole files drop at
  * METADATA level, surviving rows position-delete (merge-on-read) —
  * the exact CLI `delete --where` semantics, now reachable from SQL.
  * The condition is carried as its SQL text (the command replans it
  * against the table's own scan, exactly like the CLI path — resolved
  * attribute ids from the view's plan would not survive the re-plan). */
class ResolveQTableDelete(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(tbl, cond) if cond.resolved =>
      QTableExtensions.unwrap(tbl) match {
        case lr: LogicalRelation
            if QTableExtensions.dmlRootOf(lr).isDefined =>
          // Strip view qualifiers: the command replans the condition
          // against the table's own scan, where `viewname.col` would
          // not resolve — only the bare column names carry over.
          val bare = cond.transform {
            case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
              a.withQualifier(Nil)
          }
          DeleteFromQTableCommand(QTableExtensions.dmlRootOf(lr).get, bare.sql)
        case _ => d
      }
  }
}

/** The rerouted DELETE — one commit through DeleteJob (metadata-level
  * file drops where stats prove them, position deletes elsewhere). */
case class DeleteFromQTableCommand(root: String, condSql: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = QTable(root, spark)
    val jobId = java.util.UUID.randomUUID().toString // see MergeIntoQTableCommand
    graft.jobs.CommitRetry.withCommitRetry()(
      new graft.jobs.DeleteJob(t, jobId).run(org.apache.spark.sql.functions.expr(condSql)))
    Seq.empty
  }
}

object QTableExtensions {

  /** SQL maintenance procedures (the Iceberg `CALL catalog.system.*`
    * stored-procedure analogue): `CALL qtable.<verb>(name => value,
    * ...)` dispatches through [[graft.Procedures]], the registry the
    * CLI shares — the maintenance verbs reachable from pure SQL.
    * Intercepted at PARSE time (qtable views are temp views, not
    * catalog procedures, so Spark's own CALL resolution can never
    * apply); the statement must match the `qtable.` namespace exactly
    * or it falls through to the delegate untouched. */
  private val CallRe =
    """(?is)\s*CALL\s+qtable\.([A-Za-z_]+)\s*\((.*)\)\s*;?\s*""".r

  private[spark] def parseCall(sql: String): Option[LogicalPlan] =
    sql match {
      case CallRe(verb, argStr) =>
        Some(QTableCallCommand(verb.toLowerCase(java.util.Locale.ROOT),
          parseNamedArgs(argStr)))
      case _ => None
    }

  /** `name => value` argument list: values are 'quoted strings' or bare
    * literals (numbers, booleans); commas inside quotes don't split, and
    * a doubled quote inside a quoted value is the SQL-standard escape
    * for one literal quote (r5 advice fix: constraint/filter predicates
    * like `expr => 'fmt IN (''png'', ''jpeg'')'` are a common CALL
    * argument and must round-trip to a parseable predicate). */
  private def parseNamedArgs(s: String): Map[String, String] = {
    if (s.trim.isEmpty) return Map.empty
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    var inQ = false
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' if inQ && i + 1 < s.length && s.charAt(i + 1) == '\'' =>
          // '' while inside quotes: consume the pair, emit one quote and
          // STAY in-quote — the tokenizer must not see two toggles
          cur += '\''; cur += '\''; i += 1
        case '\'' => inQ = !inQ; cur += '\''
        case ',' if !inQ => parts += cur.toString; cur.clear()
        case c => cur += c
      }
      i += 1
    }
    parts += cur.toString
    parts.map(_.trim).filter(_.nonEmpty).map { p =>
      val j = p.indexOf("=>")
      require(j > 0, s"CALL arguments must be name => value, got: '$p'")
      val k = p.substring(0, j).trim.toLowerCase(java.util.Locale.ROOT)
      var v = p.substring(j + 2).trim
      if (v.length >= 2 && v.startsWith("'") && v.endsWith("'"))
        v = v.substring(1, v.length - 1).replace("''", "'")
      k -> v
    }.toMap
  }

  private[spark] def unwrap(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => unwrap(c)
    case v: View => unwrap(v.child)
    case other => other
  }

  /** SQL time travel: `SELECT ... FROM <qtable view> VERSION AS OF 3`
    * (or `TIMESTAMP AS OF '2026-08-19T00:00:00Z'` / `FOR SYSTEM_TIME AS
    * OF ...`) rewrites the parsed [[RelationTimeTravel]] into a fresh
    * qtable relation created with the matching `version`/`as-of-ts`
    * option — the same addressing the DataSource options already
    * support, now reachable in plain SQL. Runs at PARSE time (Spark's
    * analyzer supports time travel only for DSv2 tables and refuses it
    * on temp views before any resolution rule could act). The view must
    * be a HEAD-of-main view (a view created with its own time-travel
    * option carries no root to re-address). */
  private[spark] def expandTimeTravel(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
    plan.resolveOperators {
      case tt: RelationTimeTravel =>
        val viewRoot: Option[String] = tt.relation match {
          case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
            spark.sessionState.catalog.getTempView(u.multipartIdentifier.head)
              .flatMap(v => unwrap(v) match {
                case lr: LogicalRelation => dmlRootOf(lr)
                case _ => None
              })
          case _ => None
        }
        viewRoot match {
          case None => tt // not ours: leave for Spark's DSv2 handling
          case Some(root) =>
            val opt: (String, String) = (tt.version, tt.timestamp) match {
              case (Some(v), _) => ("version", v)
              case (_, Some(e)) if e.foldable =>
                val ts = e.eval() match {
                  case s: org.apache.spark.unsafe.types.UTF8String => s.toString
                  case l: java.lang.Long
                      if e.dataType == org.apache.spark.sql.types.TimestampType =>
                    (l / 1000L).toString // micros -> epoch millis
                  case l: java.lang.Long => l.toString
                  case other => throw new IllegalArgumentException(
                    s"TIMESTAMP AS OF over a qtable view needs a string/" +
                      s"timestamp literal, got: $other")
                }
                ("as-of-ts", ts)
              case _ => throw new IllegalArgumentException(
                "TIMESTAMP AS OF over a qtable view must be a literal " +
                  "(non-foldable expressions are not supported)")
            }
            val rel = new QTableSource()
              .createRelation(spark.sqlContext, Map("path" -> root, opt._1 -> opt._2))
            LogicalRelation(rel)
        }
    }
  }

  /** Expands `WHEN NOT MATCHED THEN INSERT *` over a qtable temp view
    * into an explicit same-name assignment list MINUS the derived
    * partition column `pbucket` (recomputed from the key on append).
    * Must run BEFORE the Resolution batch: the built-in
    * `ResolveReferences` both resolves a merge's children and
    * star-expands its actions within ONE rule application, so an
    * end-of-Resolution-batch rule never sees the plan before the
    * expansion fails on pbucket. The target is still an
    * `UnresolvedRelation` here — the qtable check goes through the
    * session catalog's temp-view registry instead of the plan. */
  private[spark] def expandMergeStar(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.plans.logical.{Assignment, InsertAction, InsertStarAction, MergeIntoTable}

    /** Column names of the target iff it is a single-part temp-view name
      * whose stored plan is a head-of-main qtable relation. */
    def qtableViewSchema(target: LogicalPlan): Option[Seq[String]] = {
      val name = target.collectFirst {
        case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
          u.multipartIdentifier.head
      }
      name.flatMap(n =>
        spark.sessionState.catalog.getTempView(n).flatMap { v =>
          unwrap(v) match {
            case lr: LogicalRelation if dmlRootOf(lr).isDefined =>
              Some(lr.relation.schema.fieldNames.toSeq)
            case _ => None
          }
        })
    }

    plan.resolveOperators {
      case m: MergeIntoTable
          if m.notMatchedActions.exists(_.isInstanceOf[InsertStarAction]) =>
        qtableViewSchema(m.targetTable) match {
          case Some(cols) =>
            val assigns = cols.filterNot(_ == "pbucket").map(c =>
              Assignment(UnresolvedAttribute(c), UnresolvedAttribute(c)))
            m.copy(notMatchedActions = m.notMatchedActions.map {
              case i: InsertStarAction => InsertAction(i.condition, assigns)
              case a => a
            })
          case None => m
        }
    }
  }

  /** The table root a DML statement over this relation may write to —
    * present only on head-of-main relations ([[QTableFileIndex.insertRoot]]). */
  private[spark] def dmlRoot(h: HadoopFsRelation): Option[String] =
    h.location match {
      case q: QTableFileIndex => q.insertRoot
      case _ => None
    }

  /** DML root across BOTH relation shapes: the fast-path
    * HadoopFsRelation and the decorated-scan fallback a deletes/renames
    * snapshot serves through — DML (which reloads the table at head via
    * the jobs) keeps working when reads fell back. */
  private[spark] def dmlRootOf(lr: LogicalRelation): Option[String] =
    lr.relation match {
      case h: HadoopFsRelation => dmlRoot(h)
      case d: QTableDecoratedScan => d.dmlRoot
      case _ => None
    }
}

/** Rewrites `InsertIntoStatement` over an insertable qtable relation
  * into [[AppendToQTableCommand]]. Column handling (the work Spark's
  * `PreprocessTableInsertion` would otherwise do): by-position against
  * the relation schema — with or without the derived `pbucket` column,
  * which the append recomputes from the key regardless — or by name
  * when the statement carries an explicit column list or `BY NAME`. */
class ResolveQTableInsert(spark: SparkSession) extends Rule[LogicalPlan] {

  import QTableExtensions.unwrap

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case i: InsertIntoStatement if i.query.resolved =>
      unwrap(i.table) match {
        case lr: LogicalRelation
            if QTableExtensions.dmlRootOf(lr).isDefined =>
          val root = QTableExtensions.dmlRootOf(lr).get
          require(!i.overwrite,
            "qtable is append-only through SQL INSERT: use the MERGE/" +
              "DELETE/upsert jobs for row changes (INSERT OVERWRITE " +
              "would discard snapshot history)")
          require(i.partitionSpec.isEmpty,
            "qtable derives its bucket partition from the key; " +
              "PARTITION clauses are not supported")
          val relCols = lr.relation.schema.fieldNames.toSeq
          // an explicit column list names TARGETS for the query's
          // positional outputs; only `BY NAME` trusts the query's names
          val byName = i.byName
          val inNames: Seq[String] =
            if (i.userSpecifiedCols.nonEmpty) i.userSpecifiedCols
            else if (i.byName) i.query.output.map(_.name)
            else {
              val sansBucket = relCols.filterNot(_ == "pbucket")
              val n = i.query.output.length
              if (n == relCols.length) relCols
              else if (n == sansBucket.length) sansBucket
              else throw new IllegalArgumentException(
                s"INSERT arity $n does not match qtable columns " +
                  s"${sansBucket.mkString(", ")} (pbucket optional)")
            }
          AppendToQTableCommand(root, inNames, byName, i.query)
        case _ => i
      }
  }
}

/** The rerouted insert: aligns the query's output to the table's
  * declared column types (logical names; the DataSource already refuses
  * renamed tables) and appends through the commit protocol — stats
  * harvest, fresh manifests, optimistic version claim, commit retry —
  * exactly like the library/CLI append path. */
case class AppendToQTableCommand(
    root: String,
    inNames: Seq[String],
    byName: Boolean,
    query: LogicalPlan) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(spark: SparkSession): Seq[Row] = {
    val t = QTable(root, spark)
    val types = t.currentSnapshot.schemaFields.map(f => f.name -> f.sparkType).toMap
    val need = (t.currentSnapshot.schemaFields.map(_.name).toSet - "pbucket")
    val given = inNames.filterNot(_ == "pbucket")
    require(given.toSet == need, s"INSERT columns ${given.mkString(", ")} " +
      s"must cover the table columns ${need.mkString(", ")} exactly " +
      "(qtable columns are non-nullable; partial inserts have no defaults)")
    val df0 = org.apache.spark.sql.GraftBridge.ofRows(spark, query)
    // by position: rename the query's output to the target names first;
    // by name: the query's columns already carry the right names
    val named = if (byName) df0 else df0.toDF(inNames: _*)
    val aligned = named.select(given.map(n => col(n).cast(types(n)).as(n)): _*)
    graft.jobs.CommitRetry.withCommitRetry()(
      graft.jobs.AppendJob.append(t, aligned))
    Seq.empty
  }
}

/** `CALL qtable.<verb>(...)` — SQL maintenance procedures over a table
  * path or catalog name (Iceberg stored-procedure analogue). An adapter
  * over [[graft.Procedures]], which holds the one implementation of
  * every verb and lists its arguments: argument and verb names map
  * `snake_case` to the CLI's `kebab-case` (`target_mb => 4` is
  * `--target-mb 4`, `rewrite_manifests` is `rewrite-manifests`), and
  * the summary comes back as sorted (key, value) rows. `maintain` is
  * the debt-driven tick here (`auto` defaults to true). */
final case class QTableCallCommand(verb: String, args: Map[String, String])
  extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("key", StringType, nullable = false)(),
      AttributeReference("value", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val name = verb.replace('_', '-')
    require(graft.Procedures.verbs.contains(name),
      s"unknown procedure: CALL qtable.$verb — supported: " +
        graft.Procedures.verbs.map(_.replace('-', '_')).mkString(", "))
    val opts = args.map { case (k, v) => k.replace('_', '-') -> v }
    val defaults = if (name == "maintain") Map("auto" -> "true") else Map.empty[String, String]
    graft.Procedures.run(name, defaults ++ opts, spark)
      .toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
  }
}
