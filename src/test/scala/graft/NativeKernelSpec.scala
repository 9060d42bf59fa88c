package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, IVF, Multimodal, PQ, Similarity}
import graft.functions.{GraftExtensions, GraftFunctions}
import graft.ops.Graph

/** The engine builds every native kernel as a Column, with no function
  * registration: each constructor must resolve on a session that never
  * registered anything, while no session is active, and give the same
  * result as the registered SQL name. The df-level operators of each
  * kernel family must run on such a session, and the SQL surface of
  * `spark.sql.extensions` must match `register`'s.
  */
class NativeKernelSpec extends SparkSpec {

  private lazy val fresh = spark.newSession()

  private def graftNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet

  /** Doubles by their bits, binaries by content, rows and arrays deep. */
  private def bits(v: Any): Any = v match {
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case x => x
  }

  /** Input rows built from SQL text, so every session holds the same rows. */
  private def rows(sql: String): SparkSession => DataFrame = _.sql(sql)

  private def rowsOf(df: DataFrame): Seq[Any] = df.collect().toSeq.map(bits)

  private val vecPairs = rows(
    """SELECT * FROM VALUES
      |  (array(1.0d, 2.0d, 3.0d),            array(4.0d, 5.0d, 6.0d)),
      |  (array(0.1d, 0.2d),                  array(0.3d, 0.7d)),
      |  (CAST(null AS array<double>),        array(1.0d)),
      |  (array(1.0d, 2.0d),                  array(1.0d)),
      |  (CAST(array() AS array<double>),     CAST(array() AS array<double>)),
      |  (array(1.0d, CAST(null AS double)),  array(1.0d, 1.0d))
      |AS t(a, b)""".stripMargin)

  private val points = rows(
    """SELECT * FROM VALUES (array(0.1d, 0.2d)), (array(0.9d, 1.0d)),
      |  (array(0.5d, 0.5d)), (CAST(null AS array<double>)) AS t(v)""".stripMargin)

  private val shingles = rows(
    """SELECT * FROM VALUES (array('a b', 'b c', 'c d')), (array('x')),
      |  (CAST(array() AS array<string>)), (CAST(null AS array<string>))
      |AS t(sh)""".stripMargin)

  private val strings = rows(
    """SELECT * FROM VALUES ('a b'), ('x'), ('zz'), (CAST(null AS string)) AS t(s)""")

  private val words = rows(
    """SELECT * FROM VALUES (array('a', 'b', 'c', 'd', 'a', 'b')), (array('x')),
      |  (CAST(array() AS array<string>)), (CAST(null AS array<string>)),
      |  (array('p', CAST(null AS string), 'q')) AS t(w)""".stripMargin)

  private val longPairs = rows(
    """SELECT * FROM VALUES (array(1L, 2L, 3L), array(2L, 3L, 4L)),
      |  (CAST(null AS array<bigint>), array(1L)),
      |  (CAST(array() AS array<bigint>), array(5L)),
      |  (array(1L, 5L, 9L), array(5L, 9L)) AS t(a, b)""".stripMargin)

  private val items = rows(
    """SELECT * FROM VALUES (array(1L, 2L, 3L)), (array(5L)),
      |  (CAST(array() AS array<bigint>)), (CAST(null AS array<bigint>))
      |AS t(items)""".stripMargin)

  private val mmrInput = rows(
    """SELECT * FROM VALUES
      |  (array(named_struct('c_id', 1L, 'rel', 0.9d),
      |         named_struct('c_id', 2L, 'rel', 0.8d),
      |         named_struct('c_id', 3L, 'rel', 0.7d)),
      |   array(named_struct('a_id', 1L, 'b_id', 2L, 'sim', 0.95d),
      |         named_struct('a_id', 1L, 'b_id', 3L, 'sim', 0.1d),
      |         named_struct('a_id', 2L, 'b_id', 3L, 'sim', 0.2d))),
      |  (array(named_struct('c_id', 4L, 'rel', 0.5d)),
      |   CAST(null AS array<struct<a_id:bigint,b_id:bigint,sim:double>>)),
      |  (CAST(null AS array<struct<c_id:bigint,rel:double>>),
      |   CAST(null AS array<struct<a_id:bigint,b_id:bigint,sim:double>>))
      |AS t(cands, sims)""".stripMargin)

  // PCM16 payloads behind the same in-plan WAV header the queries build:
  // empty, one sample, small positives, negative samples, > 16 samples
  private val media: SparkSession => DataFrame = s =>
    s.sql("""SELECT * FROM VALUES (X''), (X'0A00'), (X'0100020003000400'),
        |  (X'FF7F00800000FFFF'), (unhex(repeat('0102FE03', 20))),
        |  (CAST(null AS binary)) AS t(payload)""".stripMargin)
      .withColumn("m", concat(Multimodal.wavHeader(lit(8000), lit(1), lit(16),
        length(col("payload"))), col("payload")))

  private val weighted = rows(
    """SELECT * FROM VALUES
      |  (CAST(1.50 AS DECIMAL(15,2)), CAST(2 AS DECIMAL(15,2))),
      |  (CAST(2.25 AS DECIMAL(15,2)), CAST(3 AS DECIMAL(15,2))),
      |  (CAST(null AS DECIMAL(15,2)), CAST(1 AS DECIMAL(15,2))),
      |  (CAST(4.00 AS DECIMAL(15,2)), CAST(null AS DECIMAL(15,2)))
      |AS t(x, w)""".stripMargin)

  private lazy val bloomBytes: Array[Byte] = {
    val bloom = spark.sql("SELECT xxhash64(s) AS h FROM VALUES ('a b'), ('x') AS t(s)")
      .stat.bloomFilter("h", 10, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  private val cellIds = typedLit(Seq(1, 2))
  private val cellMatrix = typedLit(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))

  /** (registered name, input rows, constructor Column, registered call). */
  private def kernels: Seq[(String, SparkSession => DataFrame, Column, Column)] = {
    import GraftFunctions._
    val (a, b, v) = (col("a"), col("b"), col("v"))
    Seq(
      ("graft_minhash", shingles, minhashSignature(col("sh"), 32),
        call_function("graft_minhash", col("sh"), lit(32))),
      ("graft_minhash_bands", shingles, minhashBands(col("sh")),
        call_function("graft_minhash_bands", col("sh"))),
      ("graft_dot", vecPairs, dotProduct(a, b), call_function("graft_dot", a, b)),
      ("graft_might_contain", strings, mightContain(lit(bloomBytes), col("s")),
        call_function("graft_might_contain", lit(bloomBytes), col("s"))),
      ("graft_sorted_intersect_count", longPairs, sortedIntersectCount(a, b),
        call_function("graft_sorted_intersect_count", a, b)),
      ("graft_nearest_cell", points, nearestCell(v, cellIds, cellMatrix),
        call_function("graft_nearest_cell", v, cellIds, cellMatrix)),
      ("graft_nearest_cell_dist", points, nearestCellDist(v, cellIds, cellMatrix),
        call_function("graft_nearest_cell_dist", v, cellIds, cellMatrix)),
      ("graft_pairs", items, arrayPairs(col("items")),
        call_function("graft_pairs", col("items"))),
      ("graft_mmr", mmrInput, mmrSelect(col("cands"), col("sims"), 2),
        call_function("graft_mmr", col("cands"), col("sims"), lit(2))),
      ("graft_word_grams", words, wordGrams(col("w"), 2),
        call_function("graft_word_grams", col("w"), lit(2))),
      ("graft_pcm16_frames", media, pcm16Frames(col("m"), 16),
        call_function("graft_pcm16_frames", col("m"), lit(16))),
      ("graft_pcm16_zcr", media, pcm16Zcr(col("m")),
        call_function("graft_pcm16_zcr", col("m"))),
      ("graft_pcm16_delta", media, pcm16Delta(col("m")),
        call_function("graft_pcm16_delta", col("m"))),
      ("graft_moment_pairs", vecPairs, momentPairs(a),
        call_function("graft_moment_pairs", a)),
      ("graft_sqdist_dec", points, sqDistDecimal(v, cellMatrix),
        call_function("graft_sqdist_dec", v, cellMatrix)),
      ("graft_wmean", weighted, weightedMean(col("x"), col("w")),
        call_function("graft_wmean", col("x"), col("w"))))
  }

  test("every kernel constructor resolves on a never-registered session == its registered name") {
    assert(graftNames(fresh).isEmpty, "the fresh session must start with no graft_* functions")
    GraftFunctions.register(spark)
    val cases = try {
      SparkSession.clearActiveSession()
      kernels
    } finally SparkSession.setActiveSession(spark)
    assert(cases.map(_._1).toSet == graftNames(spark),
      "one case per name register installs")
    cases.foreach { case (name, in, native, registered) =>
      val got = rowsOf(in(fresh).select(native))
      val want = rowsOf(in(spark).select(registered))
      assert(got == want, s"$name: constructor $got != registered $want")
      assert(want.exists(_ != Seq(null)), s"$name: inputs produced only nulls")
    }
    assert(graftNames(fresh).isEmpty, "no constructor registered anything")
  }

  test("one df-level operator per kernel family runs on a never-registered session") {
    def sorted(df: DataFrame): Seq[Any] = rowsOf(df).sortBy(_.toString)
    val ops: Seq[(String, SparkSession => DataFrame)] = Seq(
      "Graph.coOccurrenceEdges" -> (s => Graph.coOccurrenceEdges(
        Tables.lineitem(s, sf).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 2)),
      "Multimodal.wavZeroCrossings" -> { s =>
        val payload = col("text").cast("binary")
        Multimodal.wavZeroCrossings(Tables.documents(s, sf).withColumn("media",
            concat(Multimodal.wavHeader(lit(8000), lit(1), lit(16), length(payload)),
              payload)),
          col("doc_id"), col("media"))
      },
      "IVF.kmeansCentroids" -> (s =>
        IVF.kmeansCentroids(Tables.embeddings(s, sf), "vec_id", "embedding", k = 4, iters = 2)),
      "PQ.encode" -> { s =>
        val emb = Tables.embeddings(s, sf)
        PQ.encode(emb, "vec_id", "embedding",
          PQ.codebooks(emb, "vec_id", "embedding", m = 4, k = 8), m = 4)
      },
      "Dedup.lshCandidates" -> (s =>
        Dedup.lshCandidates(Tables.documents(s, sf), col("doc_id"), col("text"))),
      "Similarity.mmrTopK" -> (s =>
        Similarity.mmrTopK(Tables.embeddings(s, sf), "vec_id", "embedding",
          col("vec_id") % 25 === 0, k = 3, depth = 8)),
      "q67_weighted_mean_udaf" -> (s => SparkEntry.queries("q67_weighted_mean_udaf")(s, sf)))
    ops.foreach { case (name, op) =>
      val want = sorted(op(spark))
      val got = sorted(op(fresh))
      assert(want.nonEmpty, s"$name: empty result")
      assert(got == want, s"$name: fresh session diverged")
    }
    assert(graftNames(fresh).isEmpty, "no operator registered anything")
  }

  test("GraftExtensions injects every graft_* name register installs, except the graft_wmean UDAF") {
    val probe = spark.newSession()
    GraftFunctions.register(probe)
    val names = graftNames(probe) - "graft_wmean"
    assert(names.size == 15)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      assert(ext ne spark)
      assert(ext.sparkContext eq spark.sparkContext)
      names.toSeq.sorted.foreach { name =>
        val described = ext.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
        assert(described.exists(_.contains(name)), s"$name: ${described.mkString("; ")}")
        // the Class line names the Catalyst expression the name builds
        val cls = described.collectFirst { case l if l.startsWith("Class:") => l.stripPrefix("Class:").trim }
        assert(cls.exists(c => classOf[Expression].isAssignableFrom(Class.forName(c))),
          s"$name: ${described.mkString("; ")}")
      }
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
