package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CosineSimilarity, DistinctGramHashes,
  DistinctWordGramHashes, FastMd5, MinGramMd5, MinhashSlices, SimHash32,
  VectorSum, WordGramHashes, BpeTokenCount, PHash32, DupRunBits}

/** Session-extension registration for graft's native Catalyst
  * expressions, so the SQL-AUTHORED rule surface reaches the same fused
  * codegen kernels the Column API uses. Pack authors write rules as raw
  * SQL (SqlRules.runAlertSql, mirroring the reference's rules-as-views
  * model); without this, `md5(...)`/`aggregate(zip_with(...))`
  * built-ins are their only option and the fused one-pass kernels
  * (CosineSimilarity's single loop, MinhashSlices' 8-minima fold,
  * MinGramMd5's whole winnowing pass) stay Column-API-only.
  *
  * Deploy: `--conf spark.sql.extensions=graft.GraftExtensions` (the
  * standard extension hook — applies to every session of the cluster),
  * or the session builder's `.withExtensions(new GraftExtensions)` in
  * embedded use. Each function lands in the session's FunctionRegistry
  * under the `graft_` prefix, keeping the built-in namespace clean.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit =
    for (f <- GraftExtensions.functions)
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name,
          f.usage, ""),
        (args: Seq[Expression]) => {
          require(args.length == f.arity, s"${f.name} expects ${f.arity} " +
            s"argument${if (f.arity == 1) "" else "s"}, got ${args.length}")
          f.build(args)
        }))
}

object GraftExtensions {

  /** One SQL function: name, usage line, argument count, builder. */
  final case class Fn(name: String, usage: String, arity: Int,
      build: Seq[Expression] => Expression)

  private def stringLiteral(e: Expression): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"variant must be a string literal, got $other")
  }

  val functions: Seq[Fn] = Seq(
    Fn("graft_cosine_sim", "graft_cosine_sim(a, b) - fused one-pass " +
      "cosine similarity over two double arrays", 2,
      a => CosineSimilarity(a(0), a(1))),
    Fn("graft_md5", "graft_md5(s) - md5 hex via a thread-local digest " +
      "(no per-row allocation)", 1, a => FastMd5(a(0))),
    Fn("graft_min_gram_md5", "graft_min_gram_md5(s) - minimum md5 over " +
      "the string's char-5-grams in one pass (winnowing fingerprint)", 1,
      a => MinGramMd5(a(0), 5)),
    Fn("graft_minhash_slices", "graft_minhash_slices(s) - 8 minhash " +
      "slice minima over word shingles in one fold", 1,
      a => MinhashSlices(a(0))),
    Fn("graft_simhash32", "graft_simhash32(s) - 32-bit token-frequency " +
      "SimHash of the document in one pass", 1, a => SimHash32(a(0))),
    Fn("graft_distinct_gram_hashes", "graft_distinct_gram_hashes(s) - " +
      "distinct char-4-gram xxhash64 longs as an array", 1,
      a => DistinctGramHashes(a(0), 4)),
    Fn("graft_distinct_word_gram_hashes",
      "graft_distinct_word_gram_hashes(s, variant) - distinct " +
        "word-4-gram hashes ('md5' hex or 'xxhash64' longs) as an array", 2,
      a => DistinctWordGramHashes(a(0), 4, stringLiteral(a(1)))),
    Fn("graft_word_gram_hashes", "graft_word_gram_hashes(s) - POSITIONAL " +
      "word-4-gram xxhash64 longs (document order, duplicates kept; the " +
      "span-analysis sibling of the distinct variant)", 1,
      a => WordGramHashes(a(0), 4)),
    Fn("graft_vector_sum", "graft_vector_sum(v) - aggregate: elementwise " +
      "sum of array<double> vectors (map-side partial buffers; the " +
      "de-exploded centroid shape)", 1, a => VectorSum(a(0))),
    Fn("graft_bpe_token_count", "graft_bpe_token_count(s) - count of " +
      "[a-z]+|[0-9]+|[^a-z0-9 ] tokens in one code-point pass (no regex " +
      "engine)", 1, a => BpeTokenCount(a(0))),
    Fn("graft_phash32", "graft_phash32(b) - 32-bit byte-domain dHash of " +
      "a binary payload (33 evenly-spaced samples, bit = sample > next)", 1,
      a => PHash32(a(0))),
    Fn("graft_dup_run_bits", "graft_dup_run_bits(pos) - aggregate: " +
      "[n_dup, max_run] over duplicated-window positions via a per-group " +
      "bitmap", 1, a => DupRunBits(a(0))))
}
