package graft.lakehouse

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumnAccess, GraftDatasetAccess, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.{expressions => cexp}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, ExprId, Expression, Literal, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, OverwritePartitionsDynamic, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id, not, when}
import org.apache.spark.sql.types.{DataType, StructType}

/** SQL `UPDATE` / `MERGE INTO` / `DELETE` over lakehouse
  * tables — the row-mutating verbs Spark only grants to sources that
  * bring their own planning (the Delta approach: intercept the analyzed
  * command and execute it through the table's own copy-on-write
  * machinery, rather than the DSv2 row-level-operation protocol whose
  * group-based write face would force a hand-rolled executor-side
  * parquet writer where [[LakehouseTable]] already owns a better one).
  *
  * {{{
  *   UPDATE graft.db.t SET v = concat(v, '!'), n = n + 1 WHERE id < 100
  *   MERGE INTO graft.db.t t USING updates s ON t.id = s.id
  *     WHEN MATCHED AND s.del THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  *     WHEN NOT MATCHED BY SOURCE THEN DELETE
  *   DELETE FROM graft.db.t WHERE v LIKE '%stale%'
  * }}}
  *
  * All three execute as ONE snapshot commit with the table's
  * copy-on-write discipline ([[LakehouseTable.sqlMutate]]): manifest
  * stats prune the candidate file set (UPDATE/DELETE from the WHERE
  * clause, MERGE from the ON clause's equi-conjuncts via the same
  * two-stage probe as the keyed writes), non-candidates carry by
  * reference, and an insert-only MERGE rewrites nothing at all — batch
  * cost, never table cost, which is what the verbs need at 100 TB.
  * Mutations run against the HEAD snapshot under the write lock (the
  * [[LakehouseV2Table]] read pin is a read-side concept).
  *
  * Deployment: [[LakehouseCatalog.initialize]] installs the strategy
  * into the session automatically (configuring the catalog is opting
  * into its SQL surface), and `GraftExtensions` injects it for
  * `spark.sql.extensions` deployments.
  *
  * Reference scope: the upsert/merge contract of the warehouse sinks
  * (`sinks/postgres.py:141-146` ON CONFLICT upsert, `sinks/iceberg.py:184`
  * merge-by-key), surfaced as ANSI SQL.
  */
object LakehouseDml {

  /** Idempotently add the DML strategy to a LIVE session (the
    * programmatic twin of the `GraftExtensions` conf route).
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(LakehouseDmlStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ LakehouseDmlStrategy
  }

  // -- the two private-API hops, both reflection-pinned (the
  //    ChangeFeedSource discipline: a Spark upgrade that removes either
  //    fails loudly in reflectionHealthy's spec assert, never silently)

  private lazy val ofRowsMethod = {
    val mod = Class.forName("org.apache.spark.sql.classic.Dataset$")
    (mod.getField("MODULE$").get(null),
      mod.getMethods.find(m => m.getName == "ofRows" && m.getParameterCount == 2)
        .getOrElse(throw new NoSuchMethodException("classic.Dataset.ofRows")))
  }

  private lazy val columnMethod =
    Class.forName("org.apache.spark.sql.classic.ExpressionUtils")
      .getMethod("column", classOf[Expression])

  /** DataFrame over an already-analyzed logical plan (attribute ids
    * preserved — the MERGE source keeps the exprIds its action
    * expressions reference).
    */
  private[lakehouse] def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ofRowsMethod._2.invoke(ofRowsMethod._1, spark, plan).asInstanceOf[DataFrame]

  /** Column over a catalyst Expression (`ExpressionUtils.column`). */
  private[lakehouse] def exprColumn(e: Expression): Column =
    columnMethod.invoke(null, e).asInstanceOf[Column]

  private[graft] def reflectionHealthy(): Boolean = {
    ofRowsMethod; columnMethod; true
  }

  private object Preds extends PredicateHelper {
    def split(e: Expression): Seq[Expression] = splitConjunctivePredicates(e)
  }

  /** AND-split (the protected PredicateHelper helper, surfaced). */
  private[lakehouse] def conjuncts(e: Expression): Seq[Expression] = Preds.split(e)

  /** Rebind an analyzed expression for evaluation on re-scanned frames:
    * every attribute maps to the column name `names` assigns it;
    * anything unmapped is a planning bug surfaced loudly — EXCEPT when
    * the expression embeds subqueries, whose internal attributes
    * legitimately live outside the map (their plans re-analyze intact
    * inside the new query).
    *
    * CORRELATED subqueries re-seat: each `OuterReference(a)` inside the
    * subquery plan becomes an UnresolvedAttribute naming the column the
    * rewrite frame gives `a`, and the subquery expression rebuilds with
    * empty outerAttrs/joinCond so the new query's analyzer re-resolves
    * the correlation from scratch (Spark then plans the usual
    * null-aware semi/anti/lateral join — distributed, no driver
    * collect). CALLERS MUST evaluate the result on a frame whose
    * column names cannot collide with names inside the subquery plan
    * (the `__g…` unique-name projections) — an outer reference demoted
    * to a bare name would otherwise re-bind to a SUBQUERY-local column
    * of the same name and silently change semantics.
    */
  private[lakehouse] def rebind(e: Expression, names: Map[ExprId, String]): Column = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject}
    val lenient = SubqueryExpression.hasSubquery(e)
    // pulled-up join conditions carry the outer side as a BARE
    // AttributeReference (not OuterReference-wrapped): anything outside
    // the subquery plan's own output that maps re-seats by name
    def reseat(x: Expression, planOut: cexp.AttributeSet): Expression = x.transform {
      case cexp.OuterReference(a: AttributeReference) if names.contains(a.exprId) =>
        UnresolvedAttribute(Seq(names(a.exprId)))
      case a: AttributeReference if !planOut.contains(a) && names.contains(a.exprId) =>
        UnresolvedAttribute(Seq(names(a.exprId)))
    }
    exprColumn(e.transform {
      case s: SubqueryExpression if s.isCorrelated =>
        // by planning time the optimizer's PullupCorrelatedPredicates
        // has hoisted the correlated predicates out of `plan` into
        // `joinCond` (widening the plan's output with the inner join
        // attrs) — re-plant them as a Filter ON TOP, re-seat the outer
        // references as names, and hand the analyzer the PRE-pullup
        // shape to re-decorrelate inside the new query
        val reseatedPlan = s.plan.transformAllExpressions {
          case cexp.OuterReference(a: AttributeReference) if names.contains(a.exprId) =>
            UnresolvedAttribute(Seq(names(a.exprId)))
        }
        val joinCond: Seq[Expression] = s match {
          case ex: cexp.Exists => ex.joinCond
          case lq: cexp.ListQuery => lq.joinCond
          case sc: cexp.ScalarSubquery => sc.joinCond
          case _ => Nil
        }
        val withCond =
          if (joinCond.isEmpty) reseatedPlan
          else LFilter(joinCond.map(reseat(_, s.plan.outputSet)).reduce(cexp.And),
            reseatedPlan)
        s match {
          case _: cexp.Exists => cexp.Exists(withCond)
          case lq: cexp.ListQuery =>
            // the IN value columns are the FIRST numCols of the
            // (possibly pullup-widened) output
            val n = if (lq.numCols > 0) lq.numCols else lq.plan.output.size
            cexp.ListQuery(LProject(lq.plan.output.take(n), withCond))
          case sc: cexp.ScalarSubquery =>
            // the COUNT shape maps empty groups to a non-NULL value
            // (defaultResult), which the Filter-on-top reconstruction
            // would turn into NULL — refuse exactly that; max/min/sum/
            // avg are NULL-on-empty and reconstruct losslessly
            // (mayHaveCountBug alone is conservatively true for ANY
            // correlated aggregate under decorrelateInnerQuery). The
            // aggregate may sit under Project/Filter wrappers (HAVING)
            // — walk through them; any DEEPER unrecognized shape that
            // still contains an aggregate refuses conservatively.
            def countLike(agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate) =
              agg.aggregateExpressions.exists(_.exists {
                case ae: cexp.aggregate.AggregateExpression =>
                  ae.aggregateFunction.defaultResult.exists(_.value != null)
                case _ => false
              })
            @scala.annotation.tailrec
            def scan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
              p match {
                case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
                  countLike(agg)
                case f: LFilter => scan(f.child)
                case pr: LProject => scan(pr.child)
                case other =>
                  // unknown shape: refuse iff an aggregate hides below
                  // (a plain non-aggregate scalar reconstructs exactly)
                  other.collectFirst {
                    case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => () }
                    .nonEmpty
              }
            val nonNullOnEmpty = scan(sc.plan)
            if (nonNullOnEmpty)
              throw new UnsupportedOperationException(
                "graft-lakehouse DML: correlated scalar subquery whose aggregate " +
                  "is non-NULL on empty input (the COUNT shape) is unsupported in " +
                  "WHERE — wrap a SUM in coalesce, or rewrite as MERGE")
            cexp.ScalarSubquery(LProject(Seq(sc.plan.output.head), withCond))
          case other => throw new UnsupportedOperationException(
            s"graft-lakehouse DML: unsupported correlated subquery shape $other")
        }
      case a: AttributeReference => names.get(a.exprId) match {
        case Some(n) => UnresolvedAttribute(Seq(n))
        case None if lenient => a
        case None => throw new IllegalStateException(
          s"DML expression references unbound attribute '${a.name}'#${a.exprId.id}")
      }
    })
  }

  /** Loud refusal for CORRELATED subqueries in the places that still
    * host expressions inside PROJECTIONS (SET values, MERGE WHEN/
    * action expressions) — an uncorrelated subquery there evaluates
    * natively (Spark plans it as a semi/anti/scalar-subquery join,
    * distributed, no driver collect). UPDATE/DELETE WHERE predicates
    * take correlated subqueries through the FILTER-planted paths.
    */
  private[lakehouse] def requireUncorrelated(e: Expression, where: String): Unit =
    e.foreach {
      case s: SubqueryExpression if s.isCorrelated =>
        throw new UnsupportedOperationException(
          s"graft-lakehouse $where supports only UNCORRELATED subqueries — " +
            "correlate through UPDATE/DELETE WHERE, or rewrite as MERGE INTO " +
            "with the subquery as source")
      case _ => ()
    }

  /** Candidate-file pruning from positive, uncorrelated, single-column
    * `col IN (SELECT …)` top-level conjuncts: each runs its subquery
    * DISTINCT and feeds the keyed two-stage probe (manifest range prune
    * + exact column-pruned semi-join over survivors) — subquery-volume
    * cost, never table cost. None = no such conjunct contributed
    * evidence (other subquery shapes — NOT IN, EXISTS, scalar — prune
    * nothing but stay CORRECT through the full rewrite filter).
    */
  private[lakehouse] def subqueryCandidates(spark: SparkSession, t: LakehouseTable,
      snap: Snapshot, conj: Seq[Expression], names: Map[ExprId, String]): Option[Set[String]] =
    conj.collect {
      case cexp.InSubquery(Seq(a: AttributeReference), lq: cexp.ListQuery)
          if !lq.isCorrelated && lq.plan.output.size == 1 &&
            lq.plan.output.head.dataType == a.dataType && names.contains(a.exprId) =>
        val keyName = names(a.exprId)
        val keys = ofRows(spark, lq.plan).toDF(keyName).distinct()
        t.touchedFilesFor(snap, keys, Seq(keyName)).toSet
    }.reduceOption(_ intersect _)

  /** Candidate-file pruning from positive CORRELATED `EXISTS (SELECT …
    * FROM inner WHERE inner_expr = t.col [AND uncorrelated rest])`
    * top-level conjuncts: when the subquery is a plain Project/Filter
    * whose every correlated conjunct is such an equi-pair, the touched
    * files are exactly those the inner side's key tuples can reach —
    * the keyed two-stage probe at SUBQUERY cost (the dedup-purge DELETE
    * shape: `WHERE EXISTS (SELECT 1 FROM dup d WHERE d.k = t.k AND
    * d.rank > 1)`). Any other correlated shape contributes no evidence
    * (prunes nothing; the full rewrite filter keeps it correct).
    */
  private[lakehouse] def existsCandidates(spark: SparkSession, t: LakehouseTable,
      snap: Snapshot, conj: Seq[Expression], names: Map[ExprId, String]): Option[Set[String]] = {
    def hasOuter(e: Expression): Boolean = e.exists(_.isInstanceOf[cexp.OuterReference])
    def probe(ex: cexp.Exists): Option[Set[String]] = {
      // by planning time PullupCorrelatedPredicates holds the
      // correlation in joinCond (uncorrelated residue stays filtered
      // inside the plan, whose output is widened with the inner attrs)
      val planCorrelated = ex.plan.collectFirst {
        case pl if pl.expressions.exists(hasOuter) => pl }.nonEmpty
      if (ex.joinCond.isEmpty || planCorrelated) None
      else {
        // the pulled-up outer side is a BARE attribute outside the
        // plan's own output (the pre-pullup OuterReference wrap is gone)
        def outerAttr(x: Expression): Option[AttributeReference] = x match {
          case cexp.OuterReference(a: AttributeReference) => Some(a)
          case a: AttributeReference if !ex.plan.outputSet.contains(a) => Some(a)
          case _ => None
        }
        def innerOk(inner: Expression): Boolean =
          !hasOuter(inner) && inner.deterministic &&
            inner.references.subsetOf(ex.plan.outputSet)
        val pairs = ex.joinCond.map {
          case cexp.EqualTo(inner, o) if outerAttr(o).exists(a =>
              names.contains(a.exprId) && inner.dataType == a.dataType) && innerOk(inner) =>
            Some(inner -> names(outerAttr(o).get.exprId))
          case cexp.EqualTo(o, inner) if outerAttr(o).exists(a =>
              names.contains(a.exprId) && inner.dataType == a.dataType) && innerOk(inner) =>
            Some(inner -> names(outerAttr(o).get.exprId))
          case _ => None
        }
        val ps = pairs.flatten
        if (pairs.exists(_.isEmpty) || ps.map(_._2).distinct.size != ps.size) None
        else {
          val keys = ofRows(spark, ex.plan)
            .select(ps.map { case (e, n) => exprColumn(e).as(n) }: _*).distinct()
          Some(t.touchedFilesFor(snap, keys, ps.map(_._2)).toSet)
        }
      }
    }
    // pruning is a heuristic: a probe that fails for ANY reason must
    // degrade to "no evidence" (full candidate set), never fail the DML
    conj.collect { case ex: cexp.Exists if ex.isCorrelated =>
      try probe(ex) catch { case _: Exception => None }
    }.flatten.reduceOption(_ intersect _)
  }

  /** Unique-name (`__go_i`) evaluation frame for the Update/Delete
    * rewrite paths: a correlated subquery's demoted outer references
    * must never collide with a same-named subquery-local column (see
    * [[rebind]]). Returns (exprId → unique name, the renamed scan, and
    * the select list that restores the declared names).
    */
  private[lakehouse] def uniqueNameFrame(
      targetOutput: Seq[Attribute],
      fields: Array[org.apache.spark.sql.types.StructField],
      scan: DataFrame): (Map[ExprId, String], DataFrame, Seq[Column]) = {
    val lk = (n: String) => n.toLowerCase(java.util.Locale.ROOT)
    val fieldIdx = fields.zipWithIndex.map { case (f, i) => lk(f.name) -> i }.toMap
    val uniq: Map[ExprId, String] = targetOutput.flatMap(a =>
      fieldIdx.get(lk(a.name)).map(i => a.exprId -> s"__go_$i")).toMap
    val scan2 = scan.select(fields.zipWithIndex.map { case (f, i) =>
      col(f.name).as(s"__go_$i") }.toIndexedSeq: _*)
    val restore = fields.zipWithIndex.map { case (f, i) =>
      col(s"__go_$i").as(f.name) }.toIndexedSeq
    (uniq, scan2, restore)
  }

  // ---------------- staged MERGE schema evolution (round 14) ----------------

  /** MERGE WITH SCHEMA EVOLUTION, made DRY-RUN HONEST: Spark's analyzer
    * (`ResolveMergeIntoSchemaEvolution`) applies the source-minus-target
    * TableChanges through `catalog.alterTable` AT ANALYSIS — so through
    * round 13 even an EXPLAIN of an evolving merge committed real DDL
    * (the upstream design; Delta shares it). Now the catalog STAGES
    * those changes here instead (detected by the analyzer rule on the
    * call stack — the one signal Spark exposes), serves the evolved
    * schema back to that rule's re-load so analysis completes
    * unchanged, and [[MergeLakehouseExec]] COMMITS the staged DDL only
    * when the merge actually RUNS. An abandoned plan (EXPLAIN, a merge
    * never executed) leaves the table untouched; ordinary reads never
    * see the staged overlay (it is only visible to the evolution
    * rule's own re-load). Keyed by the table's canonical root; bounded;
    * applied TOLERANTLY at commit (a column added independently in
    * between is skipped, a type already wide enough is kept) so
    * interleaved statements can't wedge a merge.
    */
  // access-ordered LRU bounded at 64 roots: the eldest (least-recently
  // staged/served) entry evicts on overflow, so an abandoned EXPLAIN's
  // staging ages out WITHOUT wiping a concurrent session's merge that
  // sits between analysis and execution (a wholesale clear() did
  // exactly that — ADVICE r14). Synchronized wrapper: stage/serve/
  // remove are single-op, metadata-rate calls.
  private val stagedEvolution: java.util.Map[String,
      Seq[org.apache.spark.sql.connector.catalog.TableChange]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String,
          Seq[org.apache.spark.sql.connector.catalog.TableChange]](
          16, 0.75f, /*accessOrder=*/ true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String,
            Seq[org.apache.spark.sql.connector.catalog.TableChange]]): Boolean =
          size > 64
      })

  private[lakehouse] def canonicalRoot(root: String): String =
    java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString

  /** Spec seam: counts stagings that arrived THROUGH the analyzer's
    * merge-evolution rule. The whole staged-evolution mechanism rests
    * on stack-sniffing `ResolveMergeIntoSchemaEvolution` — a Spark
    * upgrade that renames or moves that rule would silently disable it
    * (merges would evolve nothing); the spec asserting this counter
    * moves across a real MERGE WITH SCHEMA EVOLUTION catches the
    * regression loudly.
    */
  private[graft] val evolutionRuleHits =
    new java.util.concurrent.atomic.AtomicLong

  private[lakehouse] def stageEvolution(root: String,
      changes: Seq[org.apache.spark.sql.connector.catalog.TableChange]): Unit = {
    evolutionRuleHits.incrementAndGet()
    // REPLACE, never append: each merge analysis derives its own full
    // source-minus-target diff against the COMMITTED schema, so the
    // latest staging is self-contained — appending would let an
    // abandoned EXPLAIN's changes ride a later statement's commit
    stagedEvolution.put(canonicalRoot(root), changes)
    ()
  }

  private[lakehouse] def stagedEvolutionFor(root: String)
      : Option[Seq[org.apache.spark.sql.connector.catalog.TableChange]] =
    Option(stagedEvolution.get(canonicalRoot(root)))

  /** The staged changes applied to `base` IN MEMORY — what the
    * evolution rule's re-load sees (analysis proceeds over the evolved
    * shape with nothing committed).
    */
  private[lakehouse] def evolvedSchema(root: String,
      base: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.connector.catalog.TableChange
    import org.apache.spark.sql.types.StructField
    stagedEvolutionFor(root).fold(base) { changes =>
      changes.foldLeft(base) { (s, c) =>
        c match {
          case a: TableChange.AddColumn if a.fieldNames.length == 1 &&
              !s.fieldNames.exists(_.equalsIgnoreCase(a.fieldNames.head)) =>
            org.apache.spark.sql.types.StructType(
              s.fields :+ StructField(a.fieldNames.head, a.dataType, nullable = true))
          case u: TableChange.UpdateColumnType if u.fieldNames.length == 1 =>
            org.apache.spark.sql.types.StructType(s.fields.map(f =>
              if (f.name.equalsIgnoreCase(u.fieldNames.head))
                f.copy(dataType = u.newDataType) else f))
          case _ => s // evolution emits adds + widens only
        }
      }
    }
  }

  /** Commit the staged DDL for `root` as REAL alter snapshots — called
    * by [[MergeLakehouseExec]] at execution start, the moment the
    * evolution becomes observable. Tolerant: a change the table
    * already carries (landed independently since analysis) absorbs.
    */
  private[lakehouse] def commitStagedEvolution(
      spark: SparkSession, root: String,
      sourceCols: Set[String] = Set.empty): Unit = {
    import org.apache.spark.sql.connector.catalog.TableChange
    val staged0 = Option(stagedEvolution.remove(canonicalRoot(root))).getOrElse(return)
    // commit only changes THIS merge's source can have derived — a
    // staging left by an abandoned EXPLAIN of a different statement
    // (other columns) must not ride this commit
    val changes =
      if (sourceCols.isEmpty) staged0
      else staged0.filter {
        case a: TableChange.AddColumn if a.fieldNames.length == 1 =>
          sourceCols(a.fieldNames.head.toLowerCase(java.util.Locale.ROOT))
        case u: TableChange.UpdateColumnType if u.fieldNames.length == 1 =>
          sourceCols(u.fieldNames.head.toLowerCase(java.util.Locale.ROOT))
        case _ => true
      }
    val t = new LakehouseTable(spark, root)
    val cur = t.currentSnapshot().getOrElse(return)
    val declared = org.apache.spark.sql.types.DataType.fromJson(cur.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // DEDUPE within the staged list too: an EXPLAIN followed by the
    // real merge stages the same change twice (each analysis re-derives
    // the source-minus-target diff) — applying both would commit a
    // duplicate column
    val adds = changes.collect {
      case a: TableChange.AddColumn if a.fieldNames.length == 1 &&
          !declared.fieldNames.exists(_.equalsIgnoreCase(a.fieldNames.head)) =>
        org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, nullable = true)
    }.foldLeft(Vector.empty[org.apache.spark.sql.types.StructField]) { (acc, f) =>
      if (acc.exists(_.name.equalsIgnoreCase(f.name))) acc else acc :+ f
    }
    if (adds.nonEmpty) t.addColumns(adds)
    // widens: last staged type per column wins, applied once, absorbed
    // when the table already carries it
    changes.collect {
      case u: TableChange.UpdateColumnType if u.fieldNames.length == 1 =>
        u.fieldNames.head.toLowerCase(java.util.Locale.ROOT) -> u
    }.toMap.values.foreach { u =>
      val already = declared.fields.exists(f =>
        f.name.equalsIgnoreCase(u.fieldNames.head) && f.dataType == u.newDataType)
      if (!already) { t.widenColumn(u.fieldNames.head, u.newDataType); () }
    }
  }

  /** Is the current call inside Spark's merge-evolution analyzer rule?
    * The rule calls `catalog.alterTable` + `loadTable` directly with no
    * marker — the stack is the one discriminator it leaves us.
    */
  private[lakehouse] def inMergeEvolutionRule: Boolean =
    Thread.currentThread.getStackTrace.exists(_.getClassName.startsWith(
      "org.apache.spark.sql.catalyst.analysis.ResolveMergeIntoSchemaEvolution"))

  /** How many IN-subquery rows MERGE ON will stage into a literal
    * probe list before refusing. The staged list lives in the PLAN —
    * the `In` node feeds rebind, the join condition, and the action
    * when() chains, so an over-large list risks codegen blowup /
    * interpreted fallback and multi-MB driver-side plans (ADVICE r13;
    * the optimizer folds lists past its InSet threshold, but the
    * expression tree is still copied per consumer). 10k probe values
    * stays comfortably inside codegen while covering every realistic
    * staged decontamination list; beyond the cap the USING-source fold
    * is the right tool and the refusal says so.
    */
  val MaxStagedInRows = 10000

  /** Stage every uncorrelated subquery in `e` — MERGE ON is a JOIN
    * condition, where Spark cannot host subquery expressions at all,
    * so each shape evaluates ONCE up front (one distributed job,
    * exactly what Spark's own subquery execution does) and plants a
    * subquery-free equivalent:
    *
    *  - SCALAR `(SELECT max(…) …)` → a Literal, with the ANSI
    *    more-than-one-row check — so the ON-clause equi-pair file
    *    probe sees the literal too;
    *  - single-column `x IN (SELECT …)` → `In(x, literals)` (exact SQL
    *    IN semantics, nulls included), capped at [[MaxStagedInRows]] —
    *    the decontamination-join shape; the staged list also feeds the
    *    InSet file pruning;
    *  - `EXISTS (SELECT …)` → a constant Boolean (uncorrelated EXISTS
    *    references neither side, so it is one).
    *
    * Correlated shapes and multi-column IN keep the structural refusal
    * in [[LakehouseDmlStrategy]] with the fold-into-USING recipe.
    */
  private[lakehouse] def stageOnSubqueries(
      spark: SparkSession, e: Expression): Expression =
    e.transform {
      case sc: cexp.ScalarSubquery if !sc.isCorrelated =>
        val rows = ofRows(spark, sc.plan).limit(2).collect()
        if (rows.length > 1)
          throw new IllegalStateException(
            "MERGE ON scalar subquery returned more than one row")
        Literal.create(if (rows.isEmpty) null else rows(0).get(0), sc.dataType)
      case cexp.InSubquery(Seq(value), lq: cexp.ListQuery) if !lq.isCorrelated =>
        val dt = lq.plan.output.head.dataType
        val rows = ofRows(spark, lq.plan).limit(MaxStagedInRows + 1).collect()
        if (rows.length > MaxStagedInRows)
          throw new UnsupportedOperationException(
            s"MERGE ON IN subquery returned more than $MaxStagedInRows rows — " +
              "a probe list that large belongs in the merge join itself: fold " +
              "the membership into the USING source (JOIN / LEFT SEMI JOIN " +
              "the subquery there) instead of the ON clause")
        cexp.In(value, rows.toSeq.map(r => Literal.create(r.get(0), dt)))
      case ex: cexp.Exists if !ex.isCorrelated =>
        // NOT EXISTS arrives as Not(Exists(…)) and negates the literal
        Literal(ofRows(spark, ex.plan).limit(1).collect().nonEmpty)
    }
}

/** Plans the three DML commands over lakehouse relations; everything
  * else falls through to the built-in strategies.
  */
object LakehouseDmlStrategy extends SparkStrategy {
  import LakehouseDml._

  /** The command's target as (output attributes, table, cache
    * refresh) — matching both the analyzed relation and the optimizer's
    * scan-relation rewrite (V2ScanRelationPushDown transforms the target
    * before planning; kept columns keep their exprIds). The refresh
    * re-caches every cached plan reading the target, as Spark's own V2
    * write and DELETE execs do after they commit.
    */
  private def lakeRelation(
      plan: LogicalPlan): Option[(Seq[Attribute], LakehouseV2Table, () => Unit)] = {
    def of(out: Seq[Attribute], r: DataSourceV2Relation) =
      (out, r.table.asInstanceOf[LakehouseV2Table],
        () => GraftDatasetAccess.refreshCache(SparkSession.active, r))
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[LakehouseV2Table] =>
        of(r.output, r)
      case s: DataSourceV2ScanRelation if s.relation.table.isInstanceOf[LakehouseV2Table] =>
        of(s.output, s.relation)
    }
  }

  /** MERGE ON hosts the JOIN condition, where Spark cannot plan
    * subqueries at all. UNCORRELATED scalar / single-column IN /
    * EXISTS subqueries stage instead (evaluated once, injected as
    * literals — see [[LakehouseDml.stageOnSubqueries]]); correlated
    * shapes and multi-column IN refuse loudly with the staging recipe.
    */
  private def requireOnlyStageableSubqueries(e: Expression, where: String): Unit =
    e.foreach {
      case s: SubqueryExpression if s.isCorrelated =>
        throw new UnsupportedOperationException(
          s"graft-lakehouse $where supports only UNCORRELATED subqueries " +
            "(staged before the merge join) — correlated subqueries cannot live " +
            "in a join condition; fold the correlation into the USING source")
      case in: cexp.InSubquery if in.values.length != 1 =>
        throw new UnsupportedOperationException(
          s"graft-lakehouse $where stages single-column IN subqueries only " +
            "(tuple IN has no portable null semantics as a staged probe list) — " +
            "fold the multi-column membership into the USING source")
      // ListQuery is the (already-vetted) child of an allowed InSubquery
      case _: cexp.ScalarSubquery | _: cexp.InSubquery | _: cexp.Exists |
           _: cexp.ListQuery => ()
      case s: SubqueryExpression =>
        throw new UnsupportedOperationException(
          s"graft-lakehouse $where cannot stage ${s.getClass.getSimpleName} — " +
            "fold it into the USING source instead")
      case _ => ()
    }

  private def assignmentPairs(assignments: Seq[Assignment], what: String): Seq[(AttributeReference, Expression)] =
    assignments.map {
      case Assignment(key: AttributeReference, value) =>
        requireUncorrelated(value, what); (key, value)
      case Assignment(other, _) => throw new UnsupportedOperationException(
        s"graft-lakehouse $what supports top-level column assignments only, got $other")
    }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case u: UpdateTable =>
      lakeRelation(u.table).map { case (tOut, table, refresh) =>
        // WHERE takes correlated subqueries (filter-planted in the exec)
        val sets = assignmentPairs(u.assignments, "UPDATE SET")
        UpdateLakehouseExec(SparkSession.active, table.options,
          new DmlPayload((tOut, sets, u.condition)), refresh) :: Nil
      }.getOrElse(Nil)

    case o: OverwritePartitionsDynamic =>
      lakeRelation(o.table).map { case (_, table, refresh) =>
        DynamicOverwriteLakehouseExec(SparkSession.active, table.options,
          o.query, refresh) :: Nil
      }.getOrElse(Nil)

    case m: MergeIntoTable =>
      lakeRelation(m.targetTable).map { case (tOut, table, refresh) =>
        // WITH SCHEMA EVOLUTION is the ANALYZER's job (the table
        // advertises AUTOMATIC_SCHEMA_EVOLUTION): by planning time the
        // target relation has been altered through the catalog (adds /
        // widens as ordinary alter snapshots — they replicate through
        // the schema-history channel) and star actions re-expanded over
        // the evolved schema, so the exec sees a plain resolved MERGE.
        // ON hosts the JOIN condition — Spark itself cannot plan a
        // subquery inside a join condition. Uncorrelated SCALARS stage
        // (the exec evaluates them once and plants literals); other
        // shapes refuse structurally.
        requireOnlyStageableSubqueries(m.mergeCondition, "MERGE ON")
        (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions).foreach {
          case UpdateAction(cond, assigns, _) =>
            cond.foreach(requireUncorrelated(_, "MERGE WHEN")); assignmentPairs(assigns, "MERGE UPDATE SET")
          case InsertAction(cond, assigns) =>
            cond.foreach(requireUncorrelated(_, "MERGE WHEN")); assignmentPairs(assigns, "MERGE INSERT")
          case DeleteAction(cond) => cond.foreach(requireUncorrelated(_, "MERGE WHEN"))
          case other => throw new UnsupportedOperationException(
            s"graft-lakehouse MERGE: unsupported action $other")
        }
        MergeLakehouseExec(SparkSession.active, table.options, tOut, m, refresh) :: Nil
      }.getOrElse(Nil)

    // every predicate, subqueries and no WHERE included: one
    // copy-on-write statement through sqlMutate
    case d: DeleteFromTable =>
      lakeRelation(d.table).map { case (tOut, table, refresh) =>
        DeleteLakehouseExec(SparkSession.active, table.options,
          new DmlPayload((tOut, d.condition)), refresh) :: Nil
      }.getOrElse(Nil)

    case _ => Nil
  }
}

/** Opaque expression holder: keeps analyzed expressions INVISIBLE to
  * Spark's physical-plan rewrites. A SparkPlan's Expression-typed case
  * fields are walked by prepare rules — `PlanSubqueries` would replace
  * a logical subquery inside the stored condition with a PHYSICAL
  * InSubqueryExec (breaking rebind), and `V2TableRefreshUtil` then
  * class-casts it as a LogicalPlan and dies. The execs re-plan their
  * expressions themselves through [[LakehouseDml.rebind]].
  */
private[lakehouse] final class DmlPayload[T](@transient val value: T) extends Serializable

/** Driver-side command node: run once, then refresh the cached plans
  * reading the target, and produce no rows (the v2-command execution
  * shape — `spark.sql(...)` eagerly collects).
  */
private[lakehouse] trait GraftDmlExec extends LeafExecNode {
  @transient protected def spark: SparkSession
  protected def refresh: () => Unit
  protected def run(): Unit
  @transient private var done = false
  private def ensure(): Unit = synchronized {
    if (!done) { run(); refresh(); done = true }
  }
  override def output: Seq[Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { ensure(); Array.empty }
  override protected def doExecute(): RDD[InternalRow] = {
    ensure(); spark.sparkContext.emptyRDD[InternalRow]
  }
}

/** SQL DYNAMIC partition overwrite (`INSERT OVERWRITE t SELECT …`
  * under `spark.sql.sources.partitionOverwriteMode=dynamic`): the
  * analyzed query feeds [[LakehouseTable.overwriteDynamic]] — ONE
  * snapshot replacing exactly the partitions present in the batch,
  * candidates file-pruned on the batch's typed partition tuples. An
  * unpartitioned table degenerates to a full overwrite (everything is
  * one partition — Spark's own dynamic-mode semantics there).
  */
private[lakehouse] final case class DynamicOverwriteLakehouseExec(
    @transient spark: SparkSession,
    tableOptions: Map[String, String],
    @transient query: LogicalPlan,
    refresh: () => Unit) extends GraftDmlExec {
  override protected def run(): Unit = {
    val t = new LakehouseTable(spark, LakehouseSource.rootOf(tableOptions),
      optimizeWrite = LakehouseSource.boolOpt(tableOptions, "optimizeWrite"),
      optimizeWriteTargetBytes =
        LakehouseSource.longOptOf(tableOptions, "optimizeWriteTargetBytes"))
    val df = LakehouseDml.ofRows(spark, query)
    if (LakehouseSource.colListOf(tableOptions, "partitionBy").nonEmpty ||
        t.currentSnapshot().exists(_.files.exists(_.contains("=")))) {
      t.overwriteDynamic(df)
    } else t.overwrite(df)
    ()
  }
}

/** `UPDATE t SET ... [WHERE ...]`: candidate files from the translatable
  * WHERE conjuncts (manifest stats + partition paths + sidecars), each
  * rewritten with assigned columns CASEd on the exact original
  * condition; a WHERE pruned to zero candidates commits nothing.
  */
private[lakehouse] final case class UpdateLakehouseExec(
    @transient spark: SparkSession,
    tableOptions: Map[String, String],
    payload: DmlPayload[(Seq[Attribute], Seq[(AttributeReference, Expression)], Option[Expression])],
    refresh: () => Unit) extends GraftDmlExec {

  @transient private lazy val (targetOutput, sets, condition) = payload.value
  @transient private var scanCache: Option[DataFrame] = None

  override protected def run(): Unit = try {
    val t = new LakehouseTable(spark, LakehouseSource.rootOf(tableOptions))
    val names: Map[ExprId, String] = targetOutput.map(a => a.exprId -> a.name).toMap
    val conj = condition.toSeq.flatMap(LakehouseDml.conjuncts)
    val filters = conj.flatMap(GraftColumnAccess.translateFilter)
    val setByName = sets.map { case (k, v) => k.name.toLowerCase(java.util.Locale.ROOT) -> v }.toMap
    t.sqlMutate("update",
      candidatesOf = { snap =>
        val base = condition.map(_ => LakehouseSource.pruneForFilters(t, snap, filters,
            LakehouseSource.bucketSpecOf(tableOptions))).getOrElse(snap.files)
        Seq(LakehouseDml.subqueryCandidates(spark, t, snap, conj, names),
            LakehouseDml.existsCandidates(spark, t, snap, conj, names)).flatten
          .reduceOption(_ intersect _)
          .fold(base)(keep => base.filter(keep))
      },
      compute = (snap, candidates, scan) => {
        if (candidates.isEmpty) (None, None)
        else {
          val fields = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType].fields
          val (uniq, scan2raw, restore) =
            LakehouseDml.uniqueNameFrame(targetOutput, fields, scan)
          val hasSub = condition.exists(SubqueryExpression.hasSubquery)
          // the hit/miss split scans candidates twice — cache them once
          // (a sqlMutate auto-retry re-enters compute: drop the failed
          // attempt's cache first)
          val scan2 = if (hasSub) {
            scanCache.foreach(_.unpersist())
            val c = scan2raw.cache(); scanCache = Some(c); c
          } else scan2raw
          val cond2 = condition.map(LakehouseDml.rebind(_, uniq)).getOrElse(lit(true))
          def assigned(f: org.apache.spark.sql.types.StructField, i: Int): Option[Column] =
            setByName.get(f.name.toLowerCase(java.util.Locale.ROOT))
              .map(v => LakehouseDml.rebind(v, uniq).cast(f.dataType))
          val survivors2 =
            if (hasSub) {
              // subquery conditions evaluate in FILTERS — the shape
              // Spark's subquery planning handles (null-aware for
              // NOT IN, semi/anti joins for EXISTS/IN, correlated
              // included); hit rows take new values unconditionally,
              // false-AND-null rows carry unchanged (SQL UPDATE)
              val hit = scan2.filter(cond2 <=> lit(true))
                .select(fields.zipWithIndex.map { case (f, i) =>
                  assigned(f, i).getOrElse(col(s"__go_$i")).as(s"__go_$i")
                }.toIndexedSeq: _*)
              val miss = scan2.filter(not(cond2 <=> lit(true)))
              hit.unionByName(miss)
            } else
              scan2.select(fields.zipWithIndex.map { case (f, i) =>
                assigned(f, i)
                  .map(v => when(cond2 <=> lit(true), v)
                    .otherwise(col(s"__go_$i")).as(s"__go_$i"))
                  .getOrElse(col(s"__go_$i"))
              }.toIndexedSeq: _*)
          (Some(survivors2.select(restore: _*)), None)
        }
      })
    ()
  } finally {
    scanCache.foreach(_.unpersist())
    scanCache = None
  }
}

/** `DELETE FROM t [WHERE …]`, every predicate shape: translatable
  * conjuncts prune the candidate files (anything else carries by
  * reference), and candidates rewrite keeping the rows where the FULL
  * original predicate (LIKE, NOT, functions, subqueries) is not TRUE.
  */
private[lakehouse] final case class DeleteLakehouseExec(
    @transient spark: SparkSession,
    tableOptions: Map[String, String],
    payload: DmlPayload[(Seq[Attribute], Expression)],
    refresh: () => Unit) extends GraftDmlExec {

  @transient private lazy val (targetOutput, condition) = payload.value

  override protected def run(): Unit = {
    val t = new LakehouseTable(spark, LakehouseSource.rootOf(tableOptions))
    val names: Map[ExprId, String] = targetOutput.map(a => a.exprId -> a.name).toMap
    val conj = LakehouseDml.conjuncts(condition)
    val filters = conj.flatMap(GraftColumnAccess.translateFilter)
    t.sqlMutate("delete",
      candidatesOf = { snap =>
        val base = LakehouseSource.pruneForFilters(t, snap, filters,
          LakehouseSource.bucketSpecOf(tableOptions))
        // IN-subquery and correlated-EXISTS conjuncts prune further:
        // subquery keys through the keyed two-stage probe (the
        // decontamination/dedup-purge shapes, subquery cost)
        Seq(LakehouseDml.subqueryCandidates(spark, t, snap, conj, names),
            LakehouseDml.existsCandidates(spark, t, snap, conj, names)).flatten
          .reduceOption(_ intersect _)
          .fold(base)(keep => base.filter(keep))
      },
      compute = (snap, candidates, scan) =>
        if (candidates.isEmpty) (None, None)
        else {
          // keep rows where the predicate is false OR null (DELETE only
          // removes rows where it is TRUE), spelled NOT(cond <=> TRUE) —
          // Spark's own RewriteDeleteFromTable shape, the one its
          // subquery planning handles null-correctly (a
          // coalesce(not(cond), true) nesting planned the IN-subquery
          // as a non-null-aware existence join and silently deleted
          // NOT-IN rows a NULL should protect). Evaluated on a
          // UNIQUE-name projection so a correlated subquery's demoted
          // outer references can never collide with subquery-internal
          // column names (see [[rebind]]).
          val fields = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType].fields
          val (uniq, scan2, restore) =
            LakehouseDml.uniqueNameFrame(targetOutput, fields, scan)
          val kept = scan2.filter(not(LakehouseDml.rebind(condition, uniq) <=> lit(true)))
          (Some(kept.select(restore: _*)), None)
        })
    ()
  }
}

/** `MERGE INTO` — ANSI semantics as one copy-on-write snapshot:
  *
  *  - candidate files from the ON clause's target-column equi-conjuncts
  *    through [[LakehouseTable.touchedFilesFor]] (the keyed-write
  *    two-stage probe: manifest range prune, then an exact column-pruned
  *    semi-join over survivors) — correct because a file no source key
  *    reaches can hold no row matching the full ON condition; a
  *    NOT-MATCHED-BY-SOURCE clause widens candidates to every file (any
  *    target row may mutate), and an ON clause with no equi-conjunct
  *    falls back the same way;
  *  - matched / not-matched-by-source actions apply first-match-wins via
  *    chained CASE on the candidate scan joined to the source;
  *  - a target row matched by >1 source rows fails loudly when matched
  *    actions exist (the ANSI cardinality rule);
  *  - an insert-only merge REWRITES NOTHING — new files only.
  */
private[lakehouse] final case class MergeLakehouseExec(
    @transient spark: SparkSession,
    tableOptions: Map[String, String],
    @transient targetOutput: Seq[Attribute],
    @transient merge: MergeIntoTable,
    refresh: () => Unit) extends GraftDmlExec {
  import LakehouseDml.{exprColumn, rebind}

  override protected def run(): Unit = {
    // WITH SCHEMA EVOLUTION: the analyzer STAGED the DDL (dry-run
    // honest — EXPLAIN commits nothing); it becomes real alter
    // snapshots now, the moment the merge executes. Gated on THIS
    // merge's flag: a plain merge must never flush a staging some
    // abandoned EXPLAIN left behind
    if (merge.withSchemaEvolution)
      LakehouseDml.commitStagedEvolution(spark, LakehouseSource.rootOf(tableOptions),
        sourceCols = merge.sourceTable.output
          .map(_.name.toLowerCase(java.util.Locale.ROOT)).toSet)
    val t = new LakehouseTable(spark, LakehouseSource.rootOf(tableOptions))
    val sourceOutput = merge.sourceTable.output
    val tIds = targetOutput.map(_.exprId).toSet
    val sIds = sourceOutput.map(_.exprId).toSet
    val names: Map[ExprId, String] =
      targetOutput.zipWithIndex.map { case (a, i) => a.exprId -> s"__gt_$i" }.toMap ++
        sourceOutput.zipWithIndex.map { case (a, i) => a.exprId -> s"__gs_$i" }
    val fieldIdxOf: Map[ExprId, Int] = targetOutput.zipWithIndex
      .map { case (a, i) => a.exprId -> i }.toMap

    // uncorrelated scalar / IN / EXISTS subqueries in ON stage to
    // literals FIRST (a join condition cannot host them); the staged
    // condition then feeds both the file probe and the merge join
    val mergeCond = LakehouseDml.stageOnSubqueries(spark, merge.mergeCondition)

    // ON-clause equi-conjuncts `t.col = <source-only expr>` drive the
    // touched-file probe; the source-side expressions evaluate on the
    // source frame DIRECTLY (same analyzed plan, same exprIds)
    val equiPairs: Seq[(String, Expression)] =
      LakehouseDml.conjuncts(mergeCond).collect {
        case cexp.EqualTo(a: AttributeReference, r)
            if tIds(a.exprId) && r.references.forall(x => sIds(x.exprId)) &&
              r.deterministic && a.dataType == r.dataType =>
          (a.name, r)
        case cexp.EqualTo(l, a: AttributeReference)
            if tIds(a.exprId) && l.references.forall(x => sIds(x.exprId)) &&
              l.deterministic && a.dataType == l.dataType =>
          (a.name, l)
      }

    // cache the source: it feeds BOTH the candidate-file discovery and
    // the merge join — two uncached evaluations of a nondeterministic
    // source could disagree on the key set and silently miss files
    val sdf0 = LakehouseDml.ofRows(spark, merge.sourceTable).cache()
    var joinedCache: Option[DataFrame] = None
    try {
      t.sqlMutate("merge",
        candidatesOf = { snap =>
          // NOT MATCHED BY SOURCE needs every target row in the join —
          // no pruning is sound then
          if (merge.notMatchedBySourceActions.nonEmpty) snap.files
          else if (LakehouseDml.conjuncts(mergeCond).exists(c =>
              c.foldable && { val v = c.eval(null); v == null || v == false }))
            // a staged conjunct folded to FALSE (e.g. EXISTS over an
            // empty table): no target row can ever match — zero
            // candidate files, and a matched-only merge commits nothing
            Nil
          else {
            val base =
              if (equiPairs.isEmpty) snap.files
              else t.touchedFilesFor(snap,
                sdf0.select(equiPairs.map { case (n, e) =>
                  exprColumn(e).as(n) }: _*).distinct(),
                equiPairs.map(_._1))
            // TARGET-ONLY literal conjuncts (notably a staged
            // `t.k IN (…)` probe list) prune further: a file none of
            // whose rows can satisfy the conjunct can satisfy no
            // matched action either — `MERGE … ON t.k IN (SELECT bad)`
            // touches only the files holding flagged keys, not the
            // table
            val targetOnly = LakehouseDml.conjuncts(mergeCond).filter(c =>
              c.references.nonEmpty && c.deterministic &&
                c.references.forall(x => tIds(x.exprId)))
              .flatMap(GraftColumnAccess.translateFilter)
            if (targetOnly.isEmpty) base
            else {
              val keep = LakehouseSource.pruneForFilters(t, snap, targetOnly).toSet
              base.filter(keep)
            }
          }
        },
        compute = { (snap, candidates, scan) =>
          val fields = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType].fields
          val tdf = scan
            .select(fields.zipWithIndex.map { case (f, i) => col(f.name).as(s"__gt_$i") }.toIndexedSeq: _*)
            .withColumn("__gt_m", lit(1))
            .withColumn("__gt_rid", monotonically_increasing_id())
          val sdf = sdf0.toDF(sourceOutput.indices.map(i => s"__gs_$i"): _*)
            .withColumn("__gs_m", lit(1))
          val joinType = if (merge.notMatchedActions.nonEmpty) "full_outer" else "left_outer"
          val joined = tdf.join(sdf, rebind(mergeCond, names), joinType).cache()
          // a sqlMutate auto-retry (lost cross-process race) re-enters
          // compute: drop the failed attempt's cached join first
          joinedCache.foreach(_.unpersist())
          joinedCache = Some(joined)
          val matchedC = col("__gt_m").isNotNull && col("__gs_m").isNotNull

          if (merge.matchedActions.nonEmpty) {
            // ANSI cardinality rule: a target row that WOULD take a
            // matched action must match at most one source row
            val dup = joined.filter(matchedC).groupBy("__gt_rid").count()
              .filter(col("count") > 1).limit(1).count()
            require(dup == 0L,
              "MERGE cardinality violation: a target row matched more than one " +
                "source row while matched actions exist — deduplicate the source " +
                "on the ON-clause keys")
          }

          def actCond(a: MergeAction): Column =
            a.condition.map(rebind(_, names)).getOrElse(lit(true))
          def assignedVal(a: MergeAction, i: Int, default: Column): Column = a match {
            case UpdateAction(_, assigns, _) =>
              assigns.collectFirst {
                case Assignment(k: AttributeReference, v) if fieldIdxOf.get(k.exprId).contains(i) =>
                  rebind(v, names).cast(fields(i).dataType)
              }.getOrElse(default)
            case InsertAction(_, assigns) =>
              assigns.collectFirst {
                case Assignment(k: AttributeReference, v) if fieldIdxOf.get(k.exprId).contains(i) =>
                  rebind(v, names).cast(fields(i).dataType)
              }.getOrElse(lit(null).cast(fields(i).dataType))
            case _: DeleteAction => default // row drops; value is moot
            case other => throw new IllegalStateException(s"unplanned action $other")
          }
          // first-match-wins: when(c1, ..).otherwise(when(c2, ..)..)
          def chainVal(actions: Seq[MergeAction], i: Int, default: Column): Column =
            actions.foldRight(default)((a, els) =>
              when(actCond(a), assignedVal(a, i, default)).otherwise(els))
          def chainKeep(actions: Seq[MergeAction], default: Column): Column =
            actions.foldRight(default)((a, els) =>
              when(actCond(a), lit(!a.isInstanceOf[DeleteAction])).otherwise(els))

          val needRewrite = candidates.nonEmpty &&
            (merge.matchedActions.nonEmpty || merge.notMatchedBySourceActions.nonEmpty)
          val survivors =
            if (!needRewrite) None
            else {
              // duplicates of one target row exist only when NO matched
              // action does (the cardinality check above) — then values
              // are source-independent and dedup by rid is exact
              val base = joined.filter(col("__gt_m").isNotNull).dropDuplicates("__gt_rid")
              val keep = when(matchedC, chainKeep(merge.matchedActions, lit(true)))
                .otherwise(chainKeep(merge.notMatchedBySourceActions, lit(true)))
              val projected = fields.zipWithIndex.map { case (f, i) =>
                val orig = col(s"__gt_$i")
                when(matchedC, chainVal(merge.matchedActions, i, orig))
                  .otherwise(chainVal(merge.notMatchedBySourceActions, i, orig))
                  .cast(f.dataType).as(f.name)
              }
              Some(base.select((projected :+ keep.as("__keep")).toIndexedSeq: _*)
                .filter(col("__keep")).drop("__keep"))
            }

          val inserts =
            if (merge.notMatchedActions.isEmpty) None
            else {
              val srcOnly = joined.filter(col("__gt_m").isNull)
              val keep = chainKeep2Insert(merge.notMatchedActions, actCond)
              val projected = fields.zipWithIndex.map { case (f, i) =>
                merge.notMatchedActions.foldRight(lit(null).cast(f.dataType): Column)(
                  (a, els) => when(actCond(a), assignedVal(a, i, lit(null).cast(f.dataType)))
                    .otherwise(els)).as(f.name)
              }
              val ins = srcOnly.select((projected :+ keep.as("__keep")).toIndexedSeq: _*)
                .filter(col("__keep")).drop("__keep")
              if (ins.isEmpty) None else Some(ins)
            }
          (survivors, inserts)
        })
      ()
    } finally {
      joinedCache.foreach(_.unpersist())
      sdf0.unpersist()
      ()
    }
  }

  /** Insert keep-chain: true when the FIRST matching action fires (a
    * source row whose every action condition is false inserts nothing).
    */
  private def chainKeep2Insert(actions: Seq[MergeAction],
      actCond: MergeAction => Column): Column =
    actions.foldRight(lit(false): Column)((a, els) =>
      when(actCond(a), lit(true)).otherwise(els))
}
