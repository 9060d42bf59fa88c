package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{SessionMemo, StoredIndex}

/** Stamp invalidation, atomic publish and session memos — the reuse
  * contract every stored index and shared table relies on. */
class StoredIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(texts: Seq[String]): String = {
    val dir = Files.createTempDirectory("stored_index_corpus").toString
    write(dir, texts)
    dir
  }

  private def write(dir: String, texts: Seq[String]): Unit =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)

  /** An index of the upper-cased corpus text, plus its row count as metadata. */
  private def upperIndex(dir: String, family: String = "spec_upper",
                         params: String = "v=1"): StoredIndex.Index = {
    val src = spark.read.parquet(dir)
    StoredIndex(family, params, dir, src, "doc_id", "text") { b =>
      src.select(col("doc_id"), upper(col("text")).as("t")).write.parquet(b.path("upper"))
      b.record("rows", b.rows)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("doc_id").collect().map(_.toString).toSeq

  private def marker(family: String, dir: String): Path =
    StoredIndex.location(family, dir).resolve(StoredIndex.Marker)

  private def liveName(family: String, dir: String): String =
    StoredIndex.location(family, dir).getFileName.toString

  /** Everything under tmpdir named after the index's location (live dir,
    * staging and retired siblings), except its lock file. */
  private def traces(family: String, dir: String): Seq[String] = {
    val name = liveName(family, dir)
    val s = Files.list(StoredIndex.location(family, dir).getParent)
    try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(n => n.contains(name) && !n.endsWith(".lock"))
    finally s.close()
  }

  test("content stamp: same-count rewrite rebuilds, unchanged corpus reuses") {
    val dir = corpus(Seq("alpha", "beta", "gamma"))
    val first = upperIndex(dir)
    assert(rows(first("upper")) == Seq("[0,ALPHA]", "[1,BETA]", "[2,GAMMA]"))
    assert(first.meta == Map("rows" -> 3L))
    val m = marker("spec_upper", dir)
    val stamp0 = Files.readString(m)
    val mtime0 = Files.getLastModifiedTime(m)

    // unchanged corpus → reuse: the marker is not rewritten
    val again = upperIndex(dir)
    assert(Files.getLastModifiedTime(m) == mtime0)
    assert(rows(again("upper")) == rows(first("upper")))
    assert(again.meta == Map("rows" -> 3L))

    // same row count, different text → rebuild
    write(dir, Seq("delta", "beta", "gamma"))
    val rebuilt = upperIndex(dir)
    assert(Files.readString(m) != stamp0)
    assert(rows(rebuilt("upper")) == Seq("[0,DELTA]", "[1,BETA]", "[2,GAMMA]"))
    assert(traces("spec_upper", dir) == Seq(liveName("spec_upper", dir)))
  }

  test("atomic publish: a failed build leaves the published index readable and unchanged") {
    val dir = corpus(Seq("one", "two"))
    val published = rows(upperIndex(dir)("upper"))
    val m = marker("spec_upper", dir)
    val stamp0 = Files.readString(m)
    val mtime0 = Files.getLastModifiedTime(m)
    val src = spark.read.parquet(dir)
    val e = intercept[IllegalStateException] {
      StoredIndex("spec_upper", "v=2", dir, src, "doc_id", "text") { b =>
        src.write.parquet(b.path("upper"))
        throw new IllegalStateException("build failed after its first table")
      }
    }
    assert(e.getMessage.contains("first table"))
    assert(Files.readString(m) == stamp0)
    assert(Files.getLastModifiedTime(m) == mtime0)
    assert(rows(upperIndex(dir)("upper")) == published)
    assert(traces("spec_upper", dir) == Seq(liveName("spec_upper", dir)))
  }

  test("atomic publish: a failed first build leaves no graft_* directory") {
    val dir = corpus(Seq("one", "two"))
    val src = spark.read.parquet(dir)
    intercept[IllegalStateException] {
      StoredIndex("spec_fail", "v=1", dir, src, "doc_id", "text") { b =>
        src.write.parquet(b.path("first"))
        throw new IllegalStateException("build failed")
      }
    }
    assert(!Files.exists(StoredIndex.location("spec_fail", dir)))
    assert(traces("spec_fail", dir).isEmpty)
  }

  test("two concurrent builds of the same index both return equal rows") {
    val dir = corpus((1 to 50).map(i => s"doc $i"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val builds = Seq.fill(2)(Future(rows(upperIndex(dir)("upper"))))
    val both = Await.result(Future.sequence(builds), 5.minutes)
    assert(both.head.length == 50)
    assert(both.head == both.last)
    assert(traces("spec_upper", dir) == Seq(liveName("spec_upper", dir)))
  }

  /** A StoredIndex call over `src` whose build writes nothing. */
  private def probe(family: String, dir: String, src: DataFrame): Unit = {
    StoredIndex(family, "v=1", dir, src, "doc_id", "text")(b => b.record("rows", b.rows))
    ()
  }

  test("stamp memo: a repeat call on an unchanged corpus runs no stamp job") {
    val dir = corpus(Seq("alpha", "beta", "gamma"))
    val src = spark.read.parquet(dir)
    assert(jobs(probe("spec_memo", dir, src)) >= 1, "the first call scans for the stamp")
    // a fresh relation over the same files: the memo keys by plan, not identity
    val again = spark.read.parquet(dir)
    assert(jobs(probe("spec_memo", dir, again)) == 0)
  }

  test("stamp memo: two families over one source share one scan; a filtered source gets its own") {
    val dir = corpus(Seq("one", "two", "three", "four"))
    val src = spark.read.parquet(dir)
    assert(jobs(probe("spec_fam_a", dir, src)) >= 1)
    assert(jobs(probe("spec_fam_b", dir, src)) == 0)
    assert(jobs(probe("spec_fam_even", dir, src.filter(col("doc_id") % 2 === 0))) >= 1)
    val stamp = (f: String) => Files.readString(marker(f, dir))
    assert(stamp("spec_fam_a").contains(" rows=4 "))
    assert(stamp("spec_fam_even").contains(" rows=2 "))
    assert(stamp("spec_fam_a") == stamp("spec_fam_b"))
  }

  test("SessionMemo: one value per (session, dir); a new session rebuilds; release() clears and unpersists") {
    val memo = SessionMemo[DataFrame](_.unpersist())
    var builds = 0
    def get(s: SparkSession, dir: String): DataFrame = memo(s, dir) {
      builds += 1
      // a distinct plan per build: the cache is shared across sessions
      s.range(builds).toDF("id").cache()
    }
    val a = get(spark, "d")
    assert(get(spark, "d") eq a)
    assert(builds == 1)
    a.count()
    assert(a.storageLevel != StorageLevel.NONE)

    val other = spark.newSession()
    val b = get(other, "d")
    assert(!(b eq a) && builds == 2)
    assert(a.storageLevel == StorageLevel.NONE, "the replaced entry is unpersisted")
    assert(!(get(other, "e") eq b) && builds == 3)

    val plain = SessionMemo[String]()
    assert(plain(spark, "d")("x") == "x")
    val c = get(other, "e")
    c.count()
    SessionMemo.release()
    assert(c.storageLevel == StorageLevel.NONE)
    assert(plain(spark, "d")("y") == "y")
    assert(!(get(other, "e") eq c) && builds == 4)
  }

  test("a text index built after its corpus is rewritten in the same session tokenizes the new corpus") {
    val dir = Files.createTempDirectory("text_index_rewrite").toString
    val docs = s"$dir/documents.parquet"
    write(docs, Seq("alpha beta gamma delta", "beta gamma delta epsilon", "one two three four"))
    graft.queries.TextQueries.sharedShingles(spark, dir).count() // the first corpus' shingles, shared
    write(docs, Seq("red green blue black", "green blue black white", "five six seven eight"))
    val index = StoredIndex.location("prefix_index", dir)
    try {
      graft.queries.TextQueries.prewarmStoredIndexes(spark, dir)
      val sigs = spark.read.parquet(index.resolve("sigs").toString)
      val want = graft.ext.Dedup.signatureTable(graft.ext.Dedup.shingleHashTable(
        spark.read.parquet(docs), col("doc_id"), col("text")))
      assert(sigs.exceptAll(want).isEmpty && want.exceptAll(sigs).isEmpty)
    } finally Seq(index, StoredIndex.location("prefix_index", dir, "_cap20"),
      StoredIndex.location("stable_prefix_index", dir)).foreach(i =>
      org.apache.commons.io.FileUtils.deleteDirectory(i.toFile))
  }
}
