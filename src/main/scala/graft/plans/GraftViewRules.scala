package graft.plans

import scala.util.Try

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.AliasIdentifier
import org.apache.spark.sql.catalyst.analysis.{CurrentNamespace, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedSubqueryColumnAliases, UnresolvedTableOrView, UnresolvedView}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog, ViewInfo}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftCatalog, GraftViews}

/** Engine wiring for [[graft.sources.GraftCatalog]]'s stored views.
  *
  * Spark 4.1 ships the `ViewCatalog` API with NO engine consumers
  * (verified against the jars: neither the analyzer nor any exec node
  * references it — the SQL layer routes all view DDL to the V1 session
  * catalog). So the engine integration is built here from the two public
  * extension points:
  *
  *   - a PARSER hook ([[GraftViewSqlParser]]) that rewrites view DDL
  *     (`CREATE/DROP/ALTER/SHOW VIEWS`) whose identifier resolves into a
  *     [[GraftCatalog]] into runnable commands calling the catalog's
  *     native `ViewCatalog` methods — intercepting BEFORE analysis
  *     because `ResolveSessionCatalog` owns those plans and fails them
  *     for non-session catalogs;
  *   - an analyzer RESOLUTION rule ([[GraftViewSubstitution]]) that
  *     substitutes a stored view's TEXT (re-parsed, column aliases
  *     applied by position) wherever a relation reference names one —
  *     running in the same fixed point as relation resolution, so views
  *     nest arbitrarily and work inside subqueries; CTE names shadow
  *     views (CTE substitution runs in the earlier Substitution batch).
  *
  * Install with `spark.sql.extensions=graft.plans.GraftViewExtensions`
  * (or the umbrella `org.apache.spark.sql.graft.GraftExtensions`).
  *
  * Binding semantics (spec-pinned): text re-analyzes against the LIVE
  * base tables per query — added base columns flow through `SELECT *`
  * views; a renamed/dropped base column a view references fails LOUDLY
  * at use; alias arity drift refuses. Streaming reads of views are not
  * supported (the reference's rule SQL is batch-shaped over the lake).
  */
private[graft] object GraftViewRules {

  private def classic(session: SparkSession) =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def catalogManager(session: SparkSession) =
    classic(session).sessionState.analyzer.catalogManager

  /** Resolve `parts` to (catalogName, catalog, viewName) when the parts
    * TARGET a graft catalog's lake namespace — whether or not a view of
    * that name exists (DDL needs the non-existent case). */
  def ddlTarget(session: SparkSession, parts: Seq[String])
      : Option[(String, GraftCatalog, String)] = {
    val cm = catalogManager(session)
    parts match {
      case Seq(n) => cm.currentCatalog match {
        case g: GraftCatalog if cm.currentNamespace.sameElements(Array("lake")) =>
          Some((g.name, g, n))
        case _ => None
      }
      case Seq(ns, n) if ns.equalsIgnoreCase("lake") => cm.currentCatalog match {
        case g: GraftCatalog => Some((g.name, g, n))
        case _ => None
      }
      case Seq(cat, ns, n) if ns.equalsIgnoreCase("lake") =>
        Try(cm.catalog(cat)).toOption.collect { case g: GraftCatalog => (cat, g, n) }
      case _ => None
    }
  }

  /** Resolve `parts` to a STORED view (read through the live lake root). */
  def lookupView(session: SparkSession, parts: Seq[String])
      : Option[(String, GraftViews.ViewDef)] =
    ddlTarget(session, parts).flatMap { case (catName, g, n) =>
      g.lakeRootOpt.flatMap(root => GraftViews.read(root, n))
        .map(vd => (catName, vd))
    }

  /** The substituted relation: re-parsed text, stored aliases applied by
    * position (`UnresolvedSubqueryColumnAliases` — the `FROM (…) t(a,b)`
    * machinery, so arity drift fails with the engine's own error), under
    * a qualified SubqueryAlias so `v.col` references resolve. */
  def substituted(session: SparkSession, catName: String,
      vd: GraftViews.ViewDef): LogicalPlan = {
    val parsed = classic(session).sessionState.sqlParser.parsePlan(vd.sql)
    val aliased =
      if (vd.aliases.nonEmpty) UnresolvedSubqueryColumnAliases(vd.aliases, parsed)
      else parsed
    SubqueryAlias(AliasIdentifier(vd.name, Seq(catName, "lake")), aliased)
  }

  /** Top-level DDL interception (parser hook): view DDL whose identifier
    * targets a graft catalog becomes a runnable command over the
    * catalog's native ViewCatalog methods; everything else passes
    * through untouched. */
  def rewriteDdl(session: SparkSession, plan: LogicalPlan): LogicalPlan = plan match {
    case c: CreateView => c.child match {
      case ui: UnresolvedIdentifier =>
        ddlTarget(session, ui.nameParts) match {
          case Some((catName, cat, name)) =>
            val text = c.originalText.getOrElse(
              throw new UnsupportedOperationException(
                s"$catName: graft views store SQL text; this CREATE VIEW has none"))
            GraftCreateViewCommand(catName, cat, name,
              c.userSpecifiedColumns.map(_._1),
              c.userSpecifiedColumns.map(_._2.getOrElse("")), c.comment,
              c.properties, text, c.allowExisting, c.replace)
          case None => plan
        }
      case _ => plan
    }
    case d: DropView => d.child match {
      case ui: UnresolvedIdentifier =>
        ddlTarget(session, ui.nameParts) match {
          case Some((_, cat, name)) => GraftDropViewCommand(cat, name, d.ifExists)
          case None => plan
        }
      case _ => plan
    }
    case s: ShowViews =>
      val target: Option[GraftCatalog] = s.namespace match {
        case un: UnresolvedNamespace => un.multipartIdentifier match {
          case Seq(cat, ns) if ns.equalsIgnoreCase("lake") =>
            Try(catalogManager(session).catalog(cat)).toOption
              .collect { case g: GraftCatalog => g }
          case Seq(ns) if ns.equalsIgnoreCase("lake") =>
            catalogManager(session).currentCatalog match {
              case g: GraftCatalog => Some(g)
              case _ => None
            }
          case _ => None
        }
        case _: CurrentNamespace.type =>
          val cm = catalogManager(session)
          cm.currentCatalog match {
            case g: GraftCatalog if cm.currentNamespace.sameElements(Array("lake")) =>
              Some(g)
            case _ => None
          }
        case _ => None
      }
      target.map(g => GraftShowViewsCommand(g, s.pattern, s.output)).getOrElse(plan)
    case a: AlterViewAs => a.child match {
      case uv: UnresolvedView =>
        ddlTarget(session, uv.multipartIdentifier) match {
          case Some((catName, cat, name)) =>
            GraftAlterViewAsCommand(catName, cat, name, a.originalText)
          case None => plan
        }
      case _ => plan
    }
    case r: RenameTable if r.isView => r.child match {
      case utv: UnresolvedTableOrView =>
        ddlTarget(session, utv.multipartIdentifier) match {
          case Some((_, cat, name)) => GraftRenameViewCommand(cat, name, r.newName)
          case None => plan
        }
      case _ => plan
    }
    case sct: ShowCreateTable => sct.child match {
      // SHOW CREATE TABLE on a STORED VIEW: emit the replayable
      // CREATE VIEW DDL instead of the confusing no-such-table error
      // (only intercepts when the view EXISTS — tables fall through)
      case utv: UnresolvedTableOrView
          if lookupView(session, utv.multipartIdentifier).isDefined =>
        val Some((catName, vd)) = lookupView(session, utv.multipartIdentifier)
        GraftShowCreateViewCommand(catName, vd.name, sct.output)
      case _ => plan
    }
    case d: DescribeRelation if d.partitionSpec.isEmpty => d.relation match {
      case utv: UnresolvedTableOrView
          if lookupView(session, utv.multipartIdentifier).isDefined =>
        val Some((catName, vd)) = lookupView(session, utv.multipartIdentifier)
        GraftDescribeViewCommand(catName, vd.name, d.isExtended, d.output)
      case _ => plan
    }
    // Native ANALYZE TABLE routing: Spark's own AnalyzeTable/AnalyzeColumn
    // plans are session-catalog-only (ResolveSessionCatalog fails them for
    // v2 tables), so statements targeting a graft lake table reroute to
    // the ledger-backfill engine ([[graft.sources.LakeMaintenance.analyze]]).
    // FOR COLUMNS = NDV registers on the named columns, plus histograms on
    // numeric axes when spark.sql.statistics.histogram.enabled is true —
    // Spark's own ANALYZE semantics mapped onto the ledger parts. Plain
    // COMPUTE STATISTICS backfills bounds/nulls/row counts only.
    case at: AnalyzeTable => at.child match {
      case utv: UnresolvedTableOrView =>
        ddlTarget(session, utv.multipartIdentifier) match {
          case Some((catName, cat, name)) =>
            require(at.partitionSpec.isEmpty,
              s"$catName: partition-scoped ANALYZE is not supported — " +
                "analyze covers exactly the uncovered files of the table")
            require(!at.noScan,
              s"$catName: ANALYZE … NOSCAN computes nothing for lake " +
                "tables (row counts and sizes are already ledger-exact); " +
                "omit NOSCAN to backfill per-file column statistics")
            GraftAnalyzeCommand(catName, cat, name, None, allColumns = false)
          case None => plan
        }
      case _ => plan
    }
    case ac: AnalyzeColumn => ac.child match {
      case utv: UnresolvedTableOrView =>
        ddlTarget(session, utv.multipartIdentifier) match {
          case Some((catName, cat, name)) =>
            GraftAnalyzeCommand(catName, cat, name, ac.columnNames,
              ac.allColumns)
          case None => plan
        }
      case _ => plan
    }
    case sp: SetViewProperties => sp.child match {
      case uv: UnresolvedView =>
        ddlTarget(session, uv.multipartIdentifier) match {
          case Some((_, cat, name)) =>
            GraftAlterViewPropsCommand(cat, name, sp.properties.toSeq, Seq.empty)
          case None => plan
        }
      case _ => plan
    }
    case up: UnsetViewProperties => up.child match {
      case uv: UnresolvedView =>
        ddlTarget(session, uv.multipartIdentifier) match {
          case Some((_, cat, name)) =>
            GraftAlterViewPropsCommand(cat, name, Seq.empty, up.propertyKeys)
          case None => plan
        }
      case _ => plan
    }
    case _ => plan
  }

  /** Analyze `text` in `session` and return its output schema with
    * `aliases` applied by position (refusing arity drift) — the stored
    * view schema. Runs the full analyzer, so nested views substitute and
    * missing base tables/columns fail HERE, at DDL time. */
  def analyzedViewSchema(session: SparkSession, name: String, text: String,
      aliases: Seq[String]): StructType = {
    val st = classic(session).sessionState
    val analyzed = st.executePlan(st.sqlParser.parsePlan(text)).analyzed
    val schema0 = analyzed.schema
    require(aliases.isEmpty || aliases.length == schema0.fields.length,
      s"view $name declares ${aliases.length} column aliases but its " +
        s"query produces ${schema0.fields.length} columns")
    if (aliases.isEmpty) schema0
    else StructType(schema0.fields.zip(aliases).map { case (f, a) => f.copy(name = a) })
  }

  def viewInfoOf(catalogName: String, name: String, text: String,
      aliases: Seq[String], schema: StructType, comment: Option[String],
      properties: Map[String, String],
      colComments: Seq[String] = Seq.empty): ViewInfo = {
    val props = new java.util.HashMap[String, String]()
    properties.foreach { case (k, v) => props.put(k, v) }
    comment.foreach(c => props.put(ViewCatalog.PROP_COMMENT, c))
    new ViewInfo(Identifier.of(Array("lake"), name), text, catalogName,
      Array("lake"), schema, Array.empty[String], aliases.toArray,
      colComments.toArray, props)
  }
}

/** Resolution-batch rule: substitute stored graft views for relation
  * references (see [[GraftViewRules]]). Runs in the analyzer's fixed
  * point, so nested views unfold one layer per iteration and subquery
  * plans get the same treatment through ResolveSubquery. */
class GraftViewSubstitution(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedRelation if !u.isStreaming =>
      GraftViewRules.lookupView(session, u.multipartIdentifier) match {
        case Some((catName, vd)) => GraftViewRules.substituted(session, catName, vd)
        case None => u
      }
  }
}

/** Delegating parser that routes graft-view DDL to the catalog's native
  * ViewCatalog methods (see [[GraftViewRules.rewriteDdl]]). */
class GraftViewSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftViewRules.rewriteDdl(session, delegate.parsePlan(sqlText))
  override def parsePlanWithParameters(sqlText: String,
      ctx: ParameterContext): LogicalPlan =
    GraftViewRules.rewriteDdl(session, delegate.parsePlanWithParameters(sqlText, ctx))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String) = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String) = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String) = delegate.parseRoutineParam(sqlText)
}

/** `CREATE [OR REPLACE] VIEW … AS <text>` over a graft catalog. The
  * text is analyzed HERE (create-time validation: base tables, nested
  * views, alias arity), then stored through the native ViewCatalog
  * create/replace methods (which add ref extraction + cycle refusal). */
case class GraftCreateViewCommand(catalogName: String, catalog: GraftCatalog,
    name: String, aliases: Seq[String], colComments: Seq[String],
    comment: Option[String],
    properties: Map[String, String], text: String,
    allowExisting: Boolean, replace: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val ident = Identifier.of(Array("lake"), name)
    if (allowExisting && catalog.viewExists(ident)) return Seq.empty
    val schema = GraftViewRules.analyzedViewSchema(session, name, text, aliases)
    val info = GraftViewRules.viewInfoOf(catalogName, name, text, aliases,
      schema, comment, properties, colComments)
    if (replace) catalog.replaceView(info, true) else catalog.createView(info)
    Seq.empty
  }
}

/** `ALTER VIEW … AS <text>` — replace the definition of an EXISTING view
  * (properties/comment survive via the catalog's replace-through-load). */
case class GraftAlterViewAsCommand(catalogName: String, catalog: GraftCatalog,
    name: String, text: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val ident = Identifier.of(Array("lake"), name)
    val prev = catalog.loadView(ident) // throws NoSuchViewException if absent
    val comment = Option(prev.properties().get(ViewCatalog.PROP_COMMENT))
    val props = {
      val out = scala.collection.mutable.Map.empty[String, String]
      prev.properties().forEach((k, v) =>
        if (!ViewCatalog.RESERVED_PROPERTIES.contains(k)) out += (k -> v))
      out.toMap
    }
    // the new text defines new output columns: stored aliases reset
    val schema = GraftViewRules.analyzedViewSchema(session, name, text, Seq.empty)
    catalog.replaceView(GraftViewRules.viewInfoOf(catalogName, name, text,
      Seq.empty, schema, comment, props), false)
    Seq.empty
  }
}

case class GraftDropViewCommand(catalog: GraftCatalog, name: String,
    ifExists: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val ident = Identifier.of(Array("lake"), name)
    val existed = catalog.dropView(ident)
    if (!existed && !ifExists)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    Seq.empty
  }
}

case class GraftRenameViewCommand(catalog: GraftCatalog, name: String,
    newName: Seq[String]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    catalog.renameView(Identifier.of(Array("lake"), name),
      Identifier.of(newName.init.toArray, newName.last))
    Seq.empty
  }
}

case class GraftAlterViewPropsCommand(catalog: GraftCatalog, name: String,
    sets: Seq[(String, String)], unsets: Seq[String]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    val changes: Seq[ViewChange] =
      sets.map { case (k, v) => ViewChange.setProperty(k, v) } ++
        unsets.map(ViewChange.removeProperty)
    catalog.alterView(Identifier.of(Array("lake"), name), changes: _*)
    Seq.empty
  }
}

/** `SHOW CREATE TABLE` on a stored view → the replayable CREATE VIEW
  * DDL (aliases, comment, properties, text). */
case class GraftShowCreateViewCommand(catalogName: String, name: String,
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val cm = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.analyzer.catalogManager
    val cat = cm.catalog(catalogName).asInstanceOf[GraftCatalog]
    val v = cat.loadView(Identifier.of(Array("lake"), name))
    val comments = v.columnComments()
    val aliases =
      if (v.columnAliases().isEmpty) ""
      else v.columnAliases().zipWithIndex.map { case (a, i) =>
        val c = if (i < comments.length) comments(i) else ""
        if (c.isEmpty) a else s"$a COMMENT '${c.replace("'", "''")}'"
      }.mkString(" (", ", ", ")")
    val comment = Option(v.properties().get(ViewCatalog.PROP_COMMENT))
      .map(c => s"\nCOMMENT '${c.replace("'", "''")}'").getOrElse("")
    val props = {
      val b = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      v.properties().forEach((k, vv) =>
        if (!ViewCatalog.RESERVED_PROPERTIES.contains(k)) b += (k -> vv))
      if (b.isEmpty) ""
      else b.sortBy(_._1).map { case (k, vv) =>
        s"'${k.replace("'", "''")}' = '${vv.replace("'", "''")}'"
      }.mkString("\nTBLPROPERTIES (\n  ", ",\n  ", ")")
    }
    Seq(Row(s"CREATE VIEW $catalogName.lake.$name$aliases$comment$props AS\n" +
      v.query()))
  }
}

/** `DESCRIBE [EXTENDED]` on a stored view → its column rows (+ the
  * detailed view section: type, text, properties). */
case class GraftDescribeViewCommand(catalogName: String, name: String,
    isExtended: Boolean, override val output: Seq[Attribute])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val cm = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.analyzer.catalogManager
    val cat = cm.catalog(catalogName).asInstanceOf[GraftCatalog]
    val v = cat.loadView(Identifier.of(Array("lake"), name))
    val comments = v.columnComments()
    val cols = v.schema().fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = if (i < comments.length && comments(i).nonEmpty) comments(i) else null
      Row(f.name, f.dataType.simpleString, c)
    }
    if (!isExtended) cols
    else {
      val props = {
        val b = scala.collection.mutable.ArrayBuffer.empty[String]
        v.properties().forEach((k, vv) =>
          if (!ViewCatalog.RESERVED_PROPERTIES.contains(k)) b += s"$k=$vv")
        b.sorted.mkString("[", ",", "]")
      }
      cols ++ Seq(
        Row("", "", ""),
        Row("# Detailed View Information", "", ""),
        Row("Name", s"$catalogName.lake.$name", ""),
        Row("Type", "VIEW", ""),
        Row("View Text", v.query(), ""),
        Row("View Properties", props, ""))
    }
  }
}

case class GraftShowViewsCommand(catalog: GraftCatalog, pattern: Option[String],
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val names = catalog.listViews("lake").map(_.name()).toSeq
    val filtered = pattern match {
      case Some(p) =>
        org.apache.spark.sql.catalyst.util.StringUtils.filterPattern(names, p)
      case None => names
    }
    filtered.map(n => Row("lake", n, false))
  }
}

/** `ANALYZE TABLE cat.lake.t COMPUTE STATISTICS [FOR COLUMNS a, b |
  * FOR ALL COLUMNS]` over a lake table — backfills the per-file stats
  * ledgers through [[graft.sources.LakeMaintenance.analyze]]:
  * `columns`/`allColumns` select NDV-register coverage (strings
  * included — the CBO's distinct counts), plus equi-width histograms on
  * numeric axes when `spark.sql.statistics.histogram.enabled` is true
  * (Spark's own gating conf for ANALYZE histograms). Plain COMPUTE
  * STATISTICS (no column clause) backfills bounds/nulls/row counts for
  * ledger-absent files only. Bloom filters stay CALL-only
  * (`graft.system.analyze`) — they are lookup structures, not
  * statistics, and have a sizing knob. Partition columns are refused by
  * the engine (directory values already enumerate them) except under
  * FOR ALL COLUMNS, which simply skips them. */
case class GraftAnalyzeCommand(catalogName: String, catalog: GraftCatalog,
    name: String, columns: Option[Seq[String]], allColumns: Boolean)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    import graft.sources.{LakeMaintenance, LakeManifest, LakeSinkStats}
    val root = catalog.lakeRootOpt.getOrElse(throw new IllegalStateException(
      s"$catalogName: catalog has no lake namespace configured"))
    require(!GraftViews.exists(root, name),
      s"ANALYZE TABLE: $catalogName.lake.$name is a stored VIEW — " +
        "analyze its base tables instead")
    val dir = java.nio.file.Paths.get(root, name).toString
    val m = LakeManifest.read(dir).getOrElse(
      throw new IllegalArgumentException(
        s"ANALYZE TABLE: no lake table '$name' under $root"))
    val (tblSchema, partCols) = (m.schema, m.partCols)
    val histOn = session.conf
      .get("spark.sql.statistics.histogram.enabled", "false").toBoolean
    def numericAxis(c: String): Boolean =
      tblSchema.fields.find(_.name.equalsIgnoreCase(c)).exists(_.dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BooleanType => false
        case dt => LakeSinkStats.statable(dt)
      })
    val (ndv, hist): (Seq[String], Seq[String]) = columns match {
      case Some(cs) => (cs, if (histOn) cs.filter(numericAxis) else Seq.empty)
      case None if allColumns =>
        val dataCols = tblSchema.fields
          .filterNot(f => partCols.exists(_.equalsIgnoreCase(f.name)))
        val nd = dataCols.filter(f => LakeSinkStats.statable(f.dataType))
          .map(_.name).toSeq
        (nd, if (histOn) nd.filter(numericAxis) else Seq.empty)
      case None => (Seq.empty, Seq.empty) // bounds/nulls/counts backfill
    }
    LakeMaintenance.analyze(session, dir, ndv, hist)
    Seq.empty
  }
}

/** `spark.sql.extensions=graft.plans.GraftViewExtensions` — the view
  * machinery and the local checkpoint manager (the umbrella
  * GraftExtensions also installs both, plus the vector kernels; this
  * narrow class exists so the test session can add views without globally
  * activating VectorKernelRule, whose specs A/B it per-test).
  *
  * Extensions apply once the session's SparkContext exists and before its
  * shared state copies the context's Hadoop conf, so the checkpoint
  * manager set there reaches every Hadoop conf the session derives. */
class GraftViewExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    org.apache.spark.sql.graft.ConnectorBridge.activeContext.foreach(sc =>
      graft.streaming.LocalCheckpointFileManager.install(sc.hadoopConfiguration))
    ext.injectParser((session, delegate) => new GraftViewSqlParser(session, delegate))
    ext.injectResolutionRule(session => new GraftViewSubstitution(session))
  }
}
