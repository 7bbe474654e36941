package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TempLakes
import graft.sources.GraftCatalog

/** Stored SQL views through the graft catalog — Spark 4.1's native
  * `ViewCatalog` API ([[graft.sources.GraftViews]]) wired in by
  * [[graft.plans.GraftViewRules]] (parser DDL hook + resolution-batch
  * substitution, since the engine itself ships the API with zero
  * consumers). Pins: create/read equivalence, nesting, aliases, SHOW
  * VIEWS, OR REPLACE, drop/rename dependency refusals, cycle refusal,
  * name-space sharing with tables, the evolution contract (added base
  * columns flow through; renamed base columns fail LOUDLY), and
  * properties/comment round-trip.
  */
class GraftViewSpec extends GraftSpec {

  private def withCatalog[T](lake: String)(body: => T): T = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.ns.sf", sfTiny)
    spark.conf.set("spark.sql.catalog.graft.lake", lake)
    body
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("CREATE VIEW: view-composed query equals its inline text; nesting; aliases") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_view_basic")
    withCatalog(lake) {
      (1 to 100).map(i => (i.toLong, i % 7, s"u$i")).toDF("id", "grp", "name")
        .writeTo("graft.lake.base").create()
      spark.sql("""CREATE VIEW graft.lake.v_even AS
                   SELECT id, grp, name FROM graft.lake.base WHERE id % 2 = 0""")
      // the view answers exactly what its inline text answers
      assert(canon(spark.sql("SELECT * FROM graft.lake.v_even")) ==
        canon(spark.table("graft.lake.base").filter($"id" % 2 === 0)))
      // NESTED view over the first, plus column ALIASES applied by position
      spark.sql("""CREATE VIEW graft.lake.v_agg (g, n, total) AS
                   SELECT grp, count(*), sum(id) FROM graft.lake.v_even GROUP BY grp""")
      val viaView = spark.sql(
        "SELECT g, n, total FROM graft.lake.v_agg ORDER BY g")
      val inline = spark.table("graft.lake.base").filter($"id" % 2 === 0)
        .groupBy($"grp".as("g"))
        .agg(count(lit(1)).as("n"), sum($"id").as("total")).orderBy($"g")
      assert(viaView.collect().map(_.toString).toSeq ==
        inline.collect().map(_.toString).toSeq)
      // qualified column references through the view alias resolve
      assert(spark.sql(
        "SELECT v.g FROM graft.lake.v_agg v WHERE v.n > 0").count() > 0)
      // views work inside subqueries and joins
      val sub = spark.sql(
        """SELECT b.id FROM graft.lake.base b
           WHERE b.grp IN (SELECT g FROM graft.lake.v_agg WHERE total > 100)""")
      assert(sub.count() > 0)
      // spark.table() resolves views too (analyzer rule, no SQL text)
      assert(canon(spark.table("graft.lake.v_even")) ==
        canon(spark.table("graft.lake.base").filter($"id" % 2 === 0)))
      // pushdown flows THROUGH the substituted text into the scan: a
      // filter on the outer query lands in the lake scan's data filters
      val planned = spark.sql(
        "SELECT id FROM graft.lake.v_even WHERE grp = 3")
      val scans = planned.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(scans.contains("grp"), s"filter must reach the scan:\n$scans")
    }
  }

  test("SHOW VIEWS, IF NOT EXISTS, OR REPLACE, DROP semantics") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_view_ddl")
    withCatalog(lake) {
      (1 to 10).map(i => (i.toLong, s"x$i")).toDF("id", "v")
        .writeTo("graft.lake.t").create()
      spark.sql("CREATE VIEW graft.lake.va AS SELECT id FROM graft.lake.t")
      spark.sql("CREATE VIEW graft.lake.vb AS SELECT id FROM graft.lake.va")
      val shown = spark.sql("SHOW VIEWS IN graft.lake").collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq
      assert(shown == Seq(("lake", "va", false), ("lake", "vb", false)), shown.toString)
      val filtered = spark.sql("SHOW VIEWS IN graft.lake LIKE 'va'").collect()
      assert(filtered.length == 1 && filtered(0).getString(1) == "va")
      // duplicate CREATE refuses; IF NOT EXISTS no-ops (definition kept)
      val e1 = intercept[Exception](
        spark.sql("CREATE VIEW graft.lake.va AS SELECT v FROM graft.lake.t"))
      assert(e1.getMessage.toLowerCase.contains("already exists"), e1.getMessage)
      spark.sql("CREATE VIEW IF NOT EXISTS graft.lake.va AS SELECT v FROM graft.lake.t")
      assert(spark.sql("SELECT * FROM graft.lake.va").columns.toSeq == Seq("id"))
      // OR REPLACE swaps the definition
      spark.sql("CREATE OR REPLACE VIEW graft.lake.va AS SELECT id, v FROM graft.lake.t")
      assert(spark.sql("SELECT * FROM graft.lake.va").columns.toSeq == Seq("id", "v"))
      // DROP refuses while referenced — the dependent view names the blocker
      val e2 = intercept[Exception](spark.sql("DROP VIEW graft.lake.va"))
      assert(e2.getMessage.contains("vb"), e2.getMessage)
      spark.sql("DROP VIEW graft.lake.vb")
      spark.sql("DROP VIEW graft.lake.va")
      assert(spark.sql("SHOW VIEWS IN graft.lake").count() == 0)
      // missing drop: IF EXISTS no-ops, plain errors
      spark.sql("DROP VIEW IF EXISTS graft.lake.va")
      val e3 = intercept[Exception](spark.sql("DROP VIEW graft.lake.va"))
      assert(e3.getMessage.contains("va"), e3.getMessage)
      // temp views stay on the session-catalog path, untouched by the hook
      spark.sql("CREATE TEMPORARY VIEW graft_tmp_v AS SELECT 1 AS one")
      assert(spark.sql("SELECT one FROM graft_tmp_v").count() == 1)
      spark.sql("DROP VIEW graft_tmp_v")
    }
  }

  test("views and tables share one name space; cycles refuse") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_view_names")
    withCatalog(lake) {
      (1 to 5).map(i => (i.toLong, i * 2L)).toDF("id", "d")
        .writeTo("graft.lake.tbl").create()
      spark.sql("CREATE VIEW graft.lake.vw AS SELECT id FROM graft.lake.tbl")
      // a view cannot shadow a table…
      val e1 = intercept[Exception](
        spark.sql("CREATE VIEW graft.lake.tbl AS SELECT 1 AS x"))
      assert(e1.getMessage.toLowerCase.contains("already exists"), e1.getMessage)
      // …and a table cannot shadow a view (both CTAS and CREATE TABLE)
      val e2 = intercept[Exception](
        spark.sql("CREATE TABLE graft.lake.vw AS SELECT 1 AS x"))
      assert(e2.getMessage.toLowerCase.contains("already exists"), e2.getMessage)
      val e3 = intercept[Exception](
        spark.sql("CREATE TABLE graft.lake.vw (x BIGINT)"))
      assert(e3.getMessage.toLowerCase.contains("already exists"), e3.getMessage)
      // RENAME TABLE onto a view name refuses
      val e4 = intercept[Exception](
        spark.sql("ALTER TABLE graft.lake.tbl RENAME TO vw"))
      assert(e4.getMessage.toLowerCase.contains("already exists"), e4.getMessage)
      // cycle via OR REPLACE refuses: vw2 -> vw, then vw := SELECT of vw2
      spark.sql("CREATE VIEW graft.lake.vw2 AS SELECT id FROM graft.lake.vw")
      val e5 = intercept[Exception](spark.sql(
        "CREATE OR REPLACE VIEW graft.lake.vw AS SELECT id FROM graft.lake.vw2"))
      assert(e5.getMessage.contains("cycle"), e5.getMessage)
      // ALTER VIEW ... AS takes the same cycle gate
      val e6 = intercept[Exception](spark.sql(
        "ALTER VIEW graft.lake.vw AS SELECT id FROM graft.lake.vw2"))
      assert(e6.getMessage.contains("cycle"), e6.getMessage)
      // a DIRECT self-reference refuses the same way
      val e7 = intercept[Exception](spark.sql(
        "CREATE OR REPLACE VIEW graft.lake.vw AS SELECT id FROM graft.lake.vw"))
      assert(e7.getMessage.contains("cycle"), e7.getMessage)
    }
  }

  test("evolution contract: added base columns flow, renamed base columns fail loudly") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_view_evol")
    withCatalog(lake) {
      (1 to 20).map(i => (i.toLong, i % 3)).toDF("id", "grp")
        .writeTo("graft.lake.ev").create()
      spark.sql("CREATE VIEW graft.lake.star AS SELECT * FROM graft.lake.ev")
      spark.sql("CREATE VIEW graft.lake.narrow AS SELECT grp FROM graft.lake.ev")
      assert(spark.table("graft.lake.star").columns.toSeq == Seq("id", "grp"))
      // ADD COLUMNS: the * view follows the live schema (text re-analyzes)
      spark.sql("ALTER TABLE graft.lake.ev ADD COLUMNS (note STRING)")
      assert(spark.table("graft.lake.star").columns.toSeq == Seq("id", "grp", "note"))
      assert(spark.table("graft.lake.star").count() == 20)
      // RENAME a column the narrow view references: the view fails LOUDLY
      // at use, naming the missing column — never silently wrong
      spark.sql("ALTER TABLE graft.lake.ev RENAME COLUMN grp TO bucket")
      val e = intercept[AnalysisException](spark.table("graft.lake.narrow").collect())
      assert(e.getMessage.contains("grp"), e.getMessage)
      // repairing the view text repairs the view
      spark.sql("ALTER VIEW graft.lake.narrow AS SELECT bucket FROM graft.lake.ev")
      assert(spark.table("graft.lake.narrow").count() == 20)
      // alias ARITY drift: aliased view whose base widens keeps its stored
      // aliases and refuses when the query's arity no longer matches
      spark.sql("CREATE VIEW graft.lake.al (a, b) AS SELECT id, bucket FROM graft.lake.ev")
      assert(spark.table("graft.lake.al").columns.toSeq == Seq("a", "b"))
      // replace VALIDATES at DDL time: alias arity mismatch must throw
      val e8 = intercept[Exception](spark.sql(
        "CREATE OR REPLACE VIEW graft.lake.al (a, b) AS SELECT id, bucket, note FROM graft.lake.ev"))
      assert(e8.getMessage.contains("aliases"), e8.getMessage)
    }
  }

  test("alias arity mismatch refuses at CREATE time") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_view_arity")
    withCatalog(lake) {
      (1 to 5).map(i => (i.toLong, i * 2L)).toDF("id", "d")
        .writeTo("graft.lake.t").create()
      val e = intercept[Exception](spark.sql(
        "CREATE VIEW graft.lake.bad (a, b, c) AS SELECT id, d FROM graft.lake.t"))
      assert(e.getMessage.contains("aliases"), e.getMessage)
      // a view over a MISSING table refuses at CREATE (text analyzes now)
      val e2 = intercept[Exception](spark.sql(
        "CREATE VIEW graft.lake.bad2 AS SELECT * FROM graft.lake.nope"))
      assert(e2.getMessage.contains("nope"), e2.getMessage)
      assert(spark.sql("SHOW VIEWS IN graft.lake").count() == 0)
    }
  }

  test("view properties, comment, ALTER SET/UNSET, RENAME VIEW") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_view_props")
    withCatalog(lake) {
      (1 to 5).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .writeTo("graft.lake.t").create()
      spark.sql("""CREATE VIEW graft.lake.pv
                   COMMENT 'hourly rollup rule'
                   TBLPROPERTIES ('team'='sre')
                   AS SELECT id FROM graft.lake.t""")
      val cat = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.catalogManager.catalog("graft")
        .asInstanceOf[GraftCatalog]
      def props: Map[String, String] = {
        val m = cat.loadView(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("lake"), "pv")).properties()
        val out = scala.collection.mutable.Map.empty[String, String]
        m.forEach((k, v) => out += (k -> v))
        out.toMap
      }
      assert(props.get("team").contains("sre") &&
        props.get("comment").contains("hourly rollup rule"), props.toString)
      spark.sql("ALTER VIEW graft.lake.pv SET TBLPROPERTIES ('team'='ml', 'x'='1')")
      spark.sql("ALTER VIEW graft.lake.pv UNSET TBLPROPERTIES ('x')")
      assert(props.get("team").contains("ml") && !props.contains("x"), props.toString)
      // properties survive ALTER VIEW ... AS (definition replace)
      spark.sql("ALTER VIEW graft.lake.pv AS SELECT id, v FROM graft.lake.t")
      assert(props.get("team").contains("ml"), props.toString)
      assert(spark.table("graft.lake.pv").columns.toSeq == Seq("id", "v"))
      // RENAME VIEW moves the stored definition
      spark.sql("ALTER VIEW graft.lake.pv RENAME TO pv2")
      assert(spark.table("graft.lake.pv2").count() == 5)
      val e = intercept[AnalysisException](spark.table("graft.lake.pv").collect())
      assert(e != null)
      // rename refuses while another view references the old name
      spark.sql("CREATE VIEW graft.lake.dep AS SELECT id FROM graft.lake.pv2")
      val e2 = intercept[Exception](
        spark.sql("ALTER VIEW graft.lake.pv2 RENAME TO pv3"))
      assert(e2.getMessage.contains("dep"), e2.getMessage)
      // a RENAME that would CLOSE a cycle refuses (review r14): x refs
      // table y; w refs x; drop table y; renaming w onto the name y
      // would make x -> y -> x unfold forever at substitution
      spark.sql("CREATE TABLE graft.lake.y AS SELECT 1L AS id")
      spark.sql("CREATE VIEW graft.lake.x AS SELECT id FROM graft.lake.y")
      spark.sql("CREATE VIEW graft.lake.w AS SELECT id FROM graft.lake.x")
      spark.sql("DROP TABLE graft.lake.y")
      val e3 = intercept[Exception](
        spark.sql("ALTER VIEW graft.lake.w RENAME TO y"))
      assert(e3.getMessage.contains("cycle"), e3.getMessage)
    }
  }

  test("SHOW CREATE TABLE / DESCRIBE on stored views emit the view surface") {
    import spark.implicits._
    val lake = TempLakes.dir("graft_view_sct")
    withCatalog(lake) {
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .writeTo("graft.lake.t").create()
      spark.sql("""CREATE VIEW graft.lake.vw (a COMMENT 'the id', b)
                   COMMENT 'my rule' TBLPROPERTIES ('team'='sre')
                   AS SELECT id, v FROM graft.lake.t WHERE id > 3""")
      val ddl = spark.sql("SHOW CREATE TABLE graft.lake.vw")
        .collect()(0).getString(0)
      Seq("CREATE VIEW graft.lake.vw (a COMMENT 'the id', b)",
        "COMMENT 'my rule'",
        "'team' = 'sre'", "WHERE id > 3").foreach(f =>
        assert(ddl.contains(f), s"missing '$f' in:\n$ddl"))
      // the DDL REPLAYS into an equivalent view
      spark.sql(ddl.replace("graft.lake.vw", "graft.lake.vw2"))
      assert(spark.table("graft.lake.vw2").columns.toSeq == Seq("a", "b"))
      assert(spark.table("graft.lake.vw2").count() == 7)
      // DESCRIBE lists the ALIASED columns; EXTENDED adds the view section
      // column COMMENTs round-trip (review r14: an explicit DDL clause
      // must store, never silently drop)
      val plain = spark.sql("DESCRIBE graft.lake.vw").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      assert(plain == Seq(("a", "bigint", "the id"), ("b", "string", null)),
        plain.toString)
      val ext = spark.sql("DESCRIBE EXTENDED graft.lake.vw").collect()
        .map(_.toString).mkString("\n")
      Seq("# Detailed View Information", "VIEW", "WHERE id > 3",
        "team=sre").foreach(f =>
        assert(ext.contains(f), s"missing '$f' in:\n$ext"))
      // a TABLE target still takes the table path (not intercepted)
      assert(spark.sql("SHOW CREATE TABLE graft.lake.t").collect()(0)
        .getString(0).startsWith("CREATE TABLE"))
      assert(spark.sql("DESCRIBE graft.lake.t").collect()
        .map(_.getString(0)).toSeq.take(2) == Seq("id", "v"))
    }
  }

  test("views over parquet-namespace tables and mixed-source joins") {
    val lake = TempLakes.dir("graft_view_pq")
    withCatalog(lake) {
      spark.sql("""CREATE VIEW graft.lake.big_orders AS
                   SELECT o_orderkey, o_totalprice FROM graft.sf.orders
                   WHERE o_totalprice > 100000""")
      val viaView = spark.sql(
        "SELECT count(*) AS n FROM graft.lake.big_orders").collect()(0).getLong(0)
      val inline = spark.table("graft.sf.orders")
        .filter(col("o_totalprice") > 100000).count()
      assert(viaView == inline && viaView > 0)
      // CTE names shadow stored views inside a query (Substitution batch
      // runs before Resolution): the CTE wins, no infinite substitution
      val cte = spark.sql(
        """WITH big_orders AS (SELECT 1L AS o_orderkey, 2.0 AS o_totalprice)
           SELECT count(*) AS n FROM big_orders""").collect()(0).getLong(0)
      assert(cte == 1)
    }
  }
}
