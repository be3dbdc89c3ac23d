package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._

/** GraftExtensions: the SQL-authored rule surface must reach the same
  * fused kernels as the Column API — registered through the standard
  * spark.sql.extensions hook, not ad-hoc registry pokes.
  */
class ExtensionsSpec extends SparkSuite {

  private def withExtendedSession(f: SparkSession => Unit): Unit = {
    // getOrCreate returns the suite session; build a sibling session on
    // the same context with the extensions applied, then restore
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      try f(s)
      finally {
        // do NOT stop: the SparkContext is shared with the suite session
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("extension registers the fused kernels as SQL functions") {
    // values and the registered widths; that every name resolves and
    // runs under codegen is the registry test below
    withExtendedSession { s =>
      val row = s.sql(
        """SELECT
          |  graft_cosine_sim(array(1D, 2D, 3D), array(2D, 4D, 6D)) AS c,
          |  graft_md5('spark') AS h,
          |  graft_distinct_gram_hashes('abcdefg') AS gh,
          |  graft_distinct_word_gram_hashes('a b c d e', 'xxhash64') AS wgx,
          |  graft_distinct_word_gram_hashes('a b c d e', 'md5') AS wgm,
          |  graft_simhash32('a b a') AS sh32,
          |  graft_word_gram_hashes('a b c d e') AS wg
          |""".stripMargin).collect().head
      assert(math.abs(row.getDouble(0) - 1.0) < 1e-12) // parallel vectors
      assert(row.getString(1) ==
        java.security.MessageDigest.getInstance("MD5")
          .digest("spark".getBytes("UTF-8")).map("%02x".format(_)).mkString)
      assert(row.getSeq[Long](2).length == 4) // abcd bcde cdef defg
      assert(row.getSeq[Long](3).length == 2) // "a b c d","b c d e"
      val wgm = row.getSeq[String](4)
      assert(wgm.length == 2 && wgm.forall(_.length == 32))
      // SQL-registry path must equal the Column-API path
      // (FunctionsSpec pins the full formulation parity)
      assert(row.getLong(5) == s.range(1)
        .select(graft.functions.hashes.simHash32(lit("a b a"))).head.getLong(0))
      assert(row.getSeq[Long](6).length == 2)

      // aggregate kernel: SQL GROUP BY path reaches VectorSum
      val agg = s.sql(
        """SELECT g, graft_vector_sum(v) AS vs FROM VALUES
          |  (1, array(1D, 2D)), (1, array(10D, 20D)), (2, array(5D, 7D))
          |  AS t(g, v)
          |GROUP BY g ORDER BY g""".stripMargin).collect()
      assert(agg(0).getSeq[Double](1) == Seq(11.0, 22.0))
      assert(agg(1).getSeq[Double](1) == Seq(5.0, 7.0))

      // round-13 kernels
      val r13 = s.sql(
        """SELECT
          |  graft_bpe_token_count('abc 12x!') AS n_tok,
          |  graft_phash32(encode(repeat('abcz', 20), 'UTF-8')) AS ph
          |""".stripMargin).collect().head
      assert(r13.getLong(0) == 4L) // [abc][12][x][!]
      assert(r13.getLong(1) == s.range(1)
        .select(graft.functions.hashes.pHash32(
          encode(lit("abcz" * 20), "UTF-8"))).head.getLong(0))
      val runs = s.sql(
        """SELECT g, graft_dup_run_bits(p) AS r FROM VALUES
          |  (1, 3L), (1, 4L), (1, 5L), (1, 9L), (2, 0L)
          |  AS t(g, p)
          |GROUP BY g ORDER BY g""".stripMargin).collect()
      assert(runs(0).getSeq[Long](1) == Seq(4L, 3L))
      assert(runs(1).getSeq[Long](1) == Seq(1L, 1L))
    }
  }

  // Arguments for every registered scalar function over `probe` below;
  // the test fails when a registration is added without an entry here.
  private val ScalarArgs = Seq(
    "graft_cosine_sim" -> "v, array(1D, 2D, 3D)",
    "graft_md5" -> "s",
    "graft_min_gram_md5" -> "s",
    "graft_minhash_slices" -> "s",
    "graft_simhash32" -> "s",
    "graft_distinct_gram_hashes" -> "s",
    "graft_distinct_word_gram_hashes" -> "s, 'md5'",
    "graft_distinct_word_gram_hashes" -> "s, 'xxhash64'",
    "graft_word_gram_hashes" -> "s",
    "graft_bpe_token_count" -> "s",
    "graft_phash32" -> "CAST(s AS binary)")
  private val Aggregates = Set("graft_vector_sum", "graft_dup_run_bits")
  // functions whose non-null "too short" row 1 gives null
  private val NullWhenShort = Set("graft_cosine_sim", "graft_min_gram_md5",
    "graft_minhash_slices", "graft_distinct_gram_hashes",
    "graft_distinct_word_gram_hashes", "graft_word_gram_hashes",
    "graft_phash32")

  private def interpreted[T](s: SparkSession)(f: => T): T = {
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try f
    finally {
      s.conf.unset("spark.sql.codegen.wholeStage")
      s.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("every registered scalar function matches its interpreted rows " +
    "under whole-stage codegen") {
    assert(GraftExtensions.functions.map(_.name).toSet ==
      ScalarArgs.map(_._1).toSet ++ Aggregates)
    withExtendedSession { s =>
      // row 0 is null, row 1 is too short (a zero vector for cosine)
      val probe = s.range(6).selectExpr("id",
        """CASE id WHEN 0 THEN NULL WHEN 1 THEN 'ab'
          |  ELSE concat_ws(' ', 'the quick brown fox jumps over',
          |    repeat('x', CAST(id AS INT)), 'the lazy dog', CAST(id AS STRING))
          |END AS s""".stripMargin,
        """CASE id WHEN 0 THEN NULL WHEN 1 THEN array(0D, 0D, 0D)
          |  ELSE array(id * 1D, -2D, 0.5D) END AS v""".stripMargin)
      for ((name, args) <- ScalarArgs) {
        def rows(): Seq[Row] = {
          val df = probe.selectExpr("id", s"$name($args) AS r")
          val fused = df.queryExecution.executedPlan.collect {
            case w: WholeStageCodegenExec => w
          }.exists(_.child.exists {
            case p: ProjectExec =>
              p.projectList.exists(_.exists(_.getClass.getPackageName ==
                "graft.functions"))
            case _ => false
          })
          assert(fused == s.conf.get("spark.sql.codegen.wholeStage").toBoolean,
            s"$name:\n${df.queryExecution.executedPlan}")
          df.collect().toSeq.sortBy(_.getLong(0))
        }
        val codegen = rows()
        assert(codegen == interpreted(s)(rows()), name)
        assert(codegen(0).isNullAt(1), s"$name: null input")
        assert(codegen(1).isNullAt(1) == NullWhenShort(name), s"$name: short")
        assert(codegen.drop(2).forall(!_.isNullAt(1)), s"$name: long")
      }
    }
  }

  test("a SQL-authored rule through the extension equals the Column API") {
    withExtendedSession { s =>
      val sqlSide = s.sql(
        s"""SELECT doc_id, graft_min_gram_md5(text) AS fingerprint
           |FROM parquet.`$Sf/documents.parquet`
           |ORDER BY doc_id""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val colSide = s.read.parquet(s"$Sf/documents.parquet")
        .select(col("doc_id"),
          graft.functions.hashes.minGramMd5(col("text"), 5)
            .as("fingerprint"))
        .orderBy(col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(sqlSide.nonEmpty && sqlSide.sameElements(colSide))
    }
  }
}
