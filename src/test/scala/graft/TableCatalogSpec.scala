package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
import graft.core.{SessionMemo, Tables}

/** The session table catalog behind `Tables`: one resolution per (session,
  * path) while the files are unchanged, fresh attribute ids per load. */
class TableCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def relation(df: DataFrame): BaseRelation =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }.get

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("doc_id").collect().map(_.toString).toSeq

  private def table(texts: Seq[String]): String = {
    val dir = Files.createTempDirectory("table_catalog").toString
    write(dir, texts)
    dir
  }

  private def write(dir: String, texts: Seq[String]): Unit =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)

  test("two loads of one table: disjoint attribute ids, the self-join returns the right rows") {
    val a = Tables.documents(spark, sf)
    val b = Tables.documents(spark, sf)
    assert(relation(a) eq relation(b), "the second load reuses the resolved relation")
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val got = a.join(b, a("doc_id") === b("doc_id")).select(a("doc_id"), b("text"))
    val ra = spark.read.parquet(s"$sf/documents.parquet")
    val rb = spark.read.parquet(s"$sf/documents.parquet")
    val want = ra.join(rb, ra("doc_id") === rb("doc_id")).select(ra("doc_id"), rb("text"))
    assert(got.count() > 0)
    assert(rows(got) == rows(want))
  }

  test("a cached second load of an unchanged table runs no Spark job") {
    val dir = table(Seq("a", "b"))
    assert(jobs(Tables.parquet(spark, dir)) >= 1, "the first load resolves the footer schema")
    assert(jobs(Tables.parquet(spark, dir)) == 0)
  }

  test("a same-count rewrite at the same path is read fresh, without FileNotFoundException") {
    val dir = table(Seq("alpha", "beta", "gamma"))
    val first = Tables.parquet(spark, dir)
    assert(rows(first) == Seq("[0,alpha]", "[1,beta]", "[2,gamma]"))
    write(dir, Seq("delta", "beta", "gamma"))
    val next = Tables.parquet(spark, dir)
    assert(!(relation(next) eq relation(first)))
    assert(rows(next) == Seq("[0,delta]", "[1,beta]", "[2,gamma]"))
  }

  test("loading events (which sets the nanos conf) keeps other tables' entries") {
    val docs = relation(Tables.documents(spark, sf))
    Tables.events(spark, sf)
    assert(jobs(Tables.events(spark, sf)) == 0)
    var again: DataFrame = null
    assert(jobs { again = Tables.documents(spark, sf) } == 0)
    assert(relation(again) eq docs)
  }

  test("a new session resolves its own relation; SessionMemo.release() empties the catalog") {
    val mine = relation(Tables.documents(spark, sf))
    val other: SparkSession = spark.newSession()
    val theirs = Tables.documents(other, sf)
    assert(!(relation(theirs) eq mine))
    assert(relation(theirs).sqlContext.sparkSession eq other)
    assert(theirs.count() == Tables.documents(spark, sf).count())

    val before = relation(Tables.documents(spark, sf))
    SessionMemo.release()
    var after: DataFrame = null
    assert(jobs { after = Tables.documents(spark, sf) } >= 1)
    assert(!(relation(after) eq before))
  }
}
