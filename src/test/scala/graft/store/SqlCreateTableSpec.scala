package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SQL `CREATE TABLE` / CTAS on the graft catalog: the PK + bucket
  * layout rides TBLPROPERTIES and everything lowers onto the store's
  * own create (GraftCatalog.createTable) — same validation, manifest
  * birth, and commit protocol as `KeyedTable.toSql`. */
class SqlCreateTableSpec extends SparkSpec {

  import spark.implicits._

  private val catN = new java.util.concurrent.atomic.AtomicLong()

  private def withCatalog[A](w: String)(f: String => A): A = {
    val cat = s"graft_crt${catN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    try f(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  private def wh(): String = Files.createTempDirectory("graft-spec-crt-").toString

  test("CREATE TABLE births a manifest-native keyed table; INSERT/SELECT work") {
    val w = wh()
    withCatalog(w) { cat =>
      spark.sql(s"""
        CREATE TABLE $cat.t (k BIGINT, v DOUBLE, g STRING)
        TBLPROPERTIES ('primary_key'='k', 'buckets'='4')""")
      val meta = TableMeta.read(spark, KeyedTable.tableDir(w, "t"))
      assert(meta.pk == Seq("k"))
      // born with an (empty) version-0 snapshot — manifest-native
      val m = Manifest.current(spark, KeyedTable.tableDir(w, "t"))
      assert(m.buckets == 4 && m.version == 0L && m.files.isEmpty)
      assert(spark.sql(s"SELECT * FROM $cat.t").count() == 0L)
      spark.sql(s"INSERT INTO $cat.t VALUES (1, 1.5, 'a', NULL), (2, 2.5, 'b', NULL)")
      assert(spark.sql(s"SELECT sum(v) FROM $cat.t").head().getDouble(0) == 4.0)
      // the PK contract holds on the SQL-created table too
      intercept[Exception](
        spark.sql(s"INSERT INTO $cat.t VALUES (1, 9.0, 'dup', NULL)"))
    }
  }

  test("CTAS: schema from the query, layout from TBLPROPERTIES") {
    val w = wh()
    KeyedTable.toSql((1L to 10L).map(i => (i, i * 2.0)).toDF("k", "v"),
      w, "src", pk = Seq("k"))
    withCatalog(w) { cat =>
      spark.sql(s"""
        CREATE TABLE $cat.derived
        TBLPROPERTIES ('primary_key'='k', 'buckets'='2')
        AS SELECT k, v FROM $cat.src WHERE k % 2 = 0""")
      assert(KeyedTable.readSql(spark, w, "derived")
        .select("k").as[Long].collect().sorted.toSeq == Seq(2L, 4L, 6L, 8L, 10L))
      assert(Manifest.current(spark, KeyedTable.tableDir(w, "derived")).buckets == 2)
    }
  }

  test("auto_index create assigns ids across SQL inserts") {
    val w = wh()
    withCatalog(w) { cat =>
      spark.sql(s"""
        CREATE TABLE $cat.log (msg STRING)
        TBLPROPERTIES ('auto_index'='true')""")
      spark.sql(s"INSERT INTO $cat.log VALUES (NULL, 'a', NULL), (NULL, 'b', NULL)")
      spark.sql(s"INSERT INTO $cat.log VALUES (NULL, 'c', NULL)")
      val ids = KeyedTable.readSql(spark, w, "log")
        .select(Names.AutoIndex).as[Long].collect().sorted.toSeq
      assert(ids == Seq(0L, 1L, 2L), s"got $ids")
    }
  }

  test("guards: unknown property, missing PK, PARTITIONED BY, pb_bucket, LOCATION") {
    val w = wh()
    withCatalog(w) { cat =>
      val e1 = intercept[Exception](spark.sql(s"""
        CREATE TABLE $cat.bad1 (k BIGINT)
        TBLPROPERTIES ('primary_kei'='k')"""))
      assert(e1.getMessage.contains("unknown table propert"), e1.getMessage)
      val e2 = intercept[Exception](spark.sql(s"CREATE TABLE $cat.bad2 (k BIGINT)"))
      assert(e2.getMessage.contains("primary_key"), e2.getMessage)
      intercept[Exception](spark.sql(s"""
        CREATE TABLE $cat.bad3 (k BIGINT, d STRING)
        PARTITIONED BY (d)
        TBLPROPERTIES ('primary_key'='k')"""))
      intercept[Exception](spark.sql(s"""
        CREATE TABLE $cat.bad4 (k BIGINT, pb_bucket INT)
        TBLPROPERTIES ('primary_key'='k')"""))
      intercept[Exception](spark.sql(s"""
        CREATE TABLE $cat.bad5 (k BIGINT)
        TBLPROPERTIES ('primary_key'='k') LOCATION '/tmp/elsewhere'"""))
      // none of the refused creates left a table behind
      assert(Catalog.tableNames(spark, w).isEmpty)
    }
  }

  test("changelog property: the first mutation after CREATE logs a batch") {
    val w = wh()
    withCatalog(w) { cat =>
      spark.sql(s"""
        CREATE TABLE $cat.t (k BIGINT, v DOUBLE)
        TBLPROPERTIES ('primary_key'='k', 'changelog'='true')""")
      spark.sql(s"INSERT INTO $cat.t VALUES (1, 1.0, NULL)")
      val log = KeyedTable.readChangelog(spark, w, "t")
        .select("k", "op").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(log.toSeq == Seq((1L, "insert")), s"got ${log.toSeq}")
    }
  }
}
