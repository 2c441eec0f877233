package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DotProduct
import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions surface (graft.extensions.GraftExtensions,
  * registered via spark.sql.extensions by [[graft.Session]], the one
  * session factory): the graft_dot SQL function and the
  * DotProductRewrite optimizer rule that moves interpreted HOF
  * dot/norm² lambdas onto the codegen'd native expression; and the
  * factory's conf rule, which puts the extensions in every session.
  */
class ExtensionsSpec extends AnyFunSuite with SparkSessionFixture {

  test("graft_dot SQL function is injected and evaluates") {
    val r = spark.sql(
      "SELECT graft_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
        "array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d").collect()
    assert(r.head.getDouble(0) == 11.0)
  }

  test("HOF zip_with dot-product lambda is rewritten to native DotProduct") {
    // over a parquet scan: a literal LocalRelation would be constant-folded
    // away before the plan can be inspected
    val e = graft.queries.Tables.t(spark, Sf0001, "embeddings")
    val df = e.select(col("vec_id"),
      aggregate(
        zip_with(col("embedding"), reverse(col("embedding")),
          (x, y) => x.cast("double") * y),
        lit(0.0), (acc, v) => acc + v).as("dot_rev"))
    val rewritten = df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[DotProduct]))
    assert(rewritten, df.queryExecution.optimizedPlan.treeString)
    // result parity with the native expression built directly
    val viaNative = e.select(col("vec_id"),
      org.apache.spark.sql.graft.VectorExpressions.dotProduct(
        col("embedding"), reverse(col("embedding"))).as("dot_rev"))
    assert(df.orderBy("vec_id").collect().toSeq ==
      viaNative.orderBy("vec_id").collect().toSeq)
  }

  test("HOF norm-squared lambda is rewritten to DotProduct(a, a)") {
    val df = graft.queries.Tables.t(spark, Sf0001, "embeddings")
      .select(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x).as("n2"))
    val rewritten = df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[DotProduct]))
    assert(rewritten, df.queryExecution.optimizedPlan.treeString)
    assert(df.collect().forall(_.getDouble(0) >= 0.0))
  }

  test("float-typed multiply lambda is NOT rewritten (would change results)") {
    // (x, y) -> x * y over float arrays keeps FloatType products: the
    // interpreted fold rounds each product to float, DotProduct would
    // not — the rule must leave this shape alone
    val df = graft.queries.Tables.t(spark, Sf0001, "embeddings")
      .select(aggregate(
        zip_with(col("embedding"), col("embedding"), (x, y) => x * y)
          .cast("array<double>"),
        lit(0.0), (acc, v) => acc + v).as("n2_float_products"))
    val rewritten = df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[DotProduct]))
    assert(!rewritten, df.queryExecution.optimizedPlan.treeString)
  }

  test("graft_dot matches zip_with fold on nulls and unequal lengths") {
    val r = spark.sql(
      """SELECT
        |  graft_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |            CAST(array(3.0) AS ARRAY<FLOAT>)) AS len_mismatch,
        |  graft_dot(CAST(array(1.0, NULL) AS ARRAY<FLOAT>),
        |            CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS null_elem,
        |  aggregate(zip_with(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |                     CAST(array(3.0) AS ARRAY<FLOAT>),
        |                     (x, y) -> CAST(x AS DOUBLE) * y),
        |            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS hof_len_mismatch
        |""".stripMargin).collect().head
    assert(r.isNullAt(0), "length mismatch must be null")
    assert(r.isNullAt(1), "null element must poison the product")
    assert(r.isNullAt(2), "HOF reference semantics: also null")
  }

  test("shingle-family SQL functions: each invokable from SQL, the " +
      "native codegen'd expression pinned in the optimized plan, " +
      "bit-identical to the DataFrame bridge") {
    import org.apache.spark.sql.graft.{MinhashMins, Ngrams, Segments,
      ShingleExpressions, SimHash64}
    // over a parquet scan so constant folding can't erase the
    // expression before the plan is inspected (the graft_dot pattern)
    val docs = graft.queries.Tables.t(spark, Sf0001, "documents")
    docs.createOrReplaceTempView("ext_docs")
    def pinned(sqlExpr: String, cls: Class[_]): org.apache.spark.sql.DataFrame = {
      val df = spark.sql(s"SELECT doc_id, $sqlExpr AS v FROM ext_docs")
      assert(df.queryExecution.optimizedPlan.expressions
          .exists(_.exists(e => cls.isInstance(e))),
        s"$sqlExpr: native expression not in\n" +
          df.queryExecution.optimizedPlan.treeString)
      df
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.get(1))).toSeq

    val ng = pinned("graft_ngrams(text, 3, true)", classOf[Ngrams])
    assert(rows(ng) == rows(docs.select(col("doc_id"),
      ShingleExpressions.ngrams(col("text"), 3, distinct = true).as("v"))))

    val mh = pinned("graft_minhash(text, 16)", classOf[MinhashMins])
    assert(rows(mh) == rows(docs.select(col("doc_id"),
      ShingleExpressions.minhashMins(col("text"), 16).as("v"))))

    val sh = pinned("graft_simhash64(text)", classOf[SimHash64])
    assert(rows(sh) == rows(docs.select(col("doc_id"),
      ShingleExpressions.simhash64(col("text")).as("v"))))

    val sg = pinned("graft_segments(text, 8)", classOf[Segments])
    assert(rows(sg) == rows(docs.select(col("doc_id"),
      ShingleExpressions.segments(col("text"), 8).as("v"))))

    // the shape knobs are codegen parameters: a non-literal is refused
    // at analysis time, never a silent per-row branch
    val e = intercept[Exception] {
      spark.sql("SELECT graft_ngrams(text, CAST(doc_id AS INT), true) " +
        "FROM ext_docs").collect()
    }
    assert(e.getMessage.contains("literal"), e.getMessage)
  }

  test("rewrite preserves the contract q_fn_hof result bit-for-bit") {
    // fnHof contains both rewritable folds (norm2, dot_rev) and
    // non-rewritable ones (sum_pos); results must match the interpreted
    // evaluation regardless of which fire.
    val rows = graft.queries.Functions.fnHof(spark, Sf0001).collect()
    assert(rows.length > 0)
    val row0 = rows.head
    // recompute norm2 for vec 0 with plain scala over the raw embedding
    val emb = Tables0.embedding(spark, Sf0001, row0.getLong(0))
    val expected = emb.map(x => x.toDouble * x).sum
    assert(math.abs(row0.getDouble(1) - expected) < 1e-5)
  }

  test("Session.conf: a core count pins local[n] (and n partitions unless " +
      "a CLI asks not to); else " +
      "the launcher's master, else local[*]; launcher values win") {
    val four = Session.conf(Some(4), Map.empty)
    assert(four("spark.master") == "local[4]")
    assert(four("spark.sql.shuffle.partitions") == "4")
    assert(four("spark.sql.extensions") == "graft.extensions.GraftExtensions")
    assert(four("spark.sql.session.timeZone") == "UTC")
    assert(four("spark.ui.enabled") == "false")
    // the CLIs' --num-cpus pins the master only
    val cli = Session.conf(Some(4), Map.empty, pinPartitions = false)
    assert(cli("spark.master") == "local[4]")
    assert(!cli.contains("spark.sql.shuffle.partitions"))
    assert(Session.conf(None, Map("spark.master" -> "yarn"))("spark.master") ==
      "yarn")
    val bare = Session.conf(None, Map.empty)
    assert(bare("spark.master") == "local[*]")
    assert(!bare.contains("spark.sql.shuffle.partitions"))
    assert(Session.conf(None, Map("spark.ui.enabled" -> "true"))(
      "spark.ui.enabled") == "true")
    assert(spark.conf.get("spark.sql.extensions") ==
      "graft.extensions.GraftExtensions")
  }

  test("no source but Session.scala builds a SparkSession") {
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    assert(roots.forall(_.toFile.isDirectory), s"run from the repo root: $roots")
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val offenders = roots.flatMap(root => Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => !p.endsWith("graft/Session.scala"))
      .filter(p => builder
        .findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(_.toString).toList)
    assert(offenders.isEmpty,
      s"SparkSession built outside graft.Session: $offenders — call " +
        "Session.getOrCreate instead")
  }
}

/** Raw-fixture helper kept out of the main sources (test-only). */
object Tables0 {
  def embedding(spark: org.apache.spark.sql.SparkSession, dir: String, vecId: Long): Array[Float] = {
    import org.apache.spark.sql.functions.col
    graft.queries.Tables.t(spark, dir, "embeddings")
      .filter(col("vec_id") === vecId).select("embedding")
      .collect().head.getSeq[Float](0).toArray
  }
}
