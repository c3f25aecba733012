package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.expressions.{CharGramCounts, CharGrams, CharShingles, CosineSimilarity, HllRegisters, MinHashShingles, SimHashTokens, TokenGramHashes, TokenRepetitionStats, WinnowFingerprint}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions, so `spark.sql` users get them too:
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *
  *   SELECT minhash_shingles(text, 8, 32) FROM documents
  *
  * It also plans as-of joins ([[AsOfJoinStrategy]]) and adds one AQE
  * query-stage preparation rule, [[ElideTinyShuffles]]: once a
  * shuffle's whole input is materialized and no larger than the size
  * AQE's `CoalesceShufflePartitions` would read as a single partition
  * (`coalescePartitions.minPartitionSize` with `parallelismFirst` on,
  * else `advisoryPartitionSizeInBytes`), the planner-inserted range or
  * hash shuffle is replaced by `CoalesceExec(1)`. A short report's
  * final sort and its small window or grouping-set shuffles then skip
  * their sampling job and map stage and still end on the one reduce
  * task AQE would have run; the rows are unchanged.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectQueryStagePrepRule(ElideTinyShuffles)
  }
}

/** The function registrations, shared between the extensions path and
  * runtime registration on a live session (SqlBridge.register). */
object GraftFunctions {
  type Registration = (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression)

  private def intArg(e: Expression, fn: String, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be an integer literal, got $other")
  }

  val all: Seq[Registration] = Seq((
    new FunctionIdentifier("minhash_shingles"),
    new ExpressionInfo(classOf[MinHashShingles].getName, "minhash_shingles"),
    (children: Seq[Expression]) => {
      require(children.size == 3,
        "minhash_shingles(text, k, numPerms) takes exactly 3 arguments")
      MinHashShingles(children.head,
        intArg(children(1), "minhash_shingles", "k"),
        intArg(children(2), "minhash_shingles", "numPerms"))
    }), (
    new FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "cosine_sim(a, b) takes exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    }), (
    new FunctionIdentifier("char_shingles"),
    new ExpressionInfo(classOf[CharShingles].getName, "char_shingles"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "char_shingles(text, k) takes exactly 2 arguments")
      CharShingles(children.head, intArg(children(1), "char_shingles", "k"))
    }), (
    new FunctionIdentifier("char_grams"),
    new ExpressionInfo(classOf[CharGrams].getName, "char_grams"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "char_grams(text, k) takes exactly 2 arguments")
      CharGrams(children.head, intArg(children(1), "char_grams", "k"))
    }), (
    new FunctionIdentifier("char_gram_counts"),
    new ExpressionInfo(classOf[CharGramCounts].getName, "char_gram_counts"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "char_gram_counts(text, k) takes exactly 2 arguments")
      CharGramCounts(children.head, intArg(children(1), "char_gram_counts", "k"))
    }), (
    new FunctionIdentifier("simhash_tokens"),
    new ExpressionInfo(classOf[SimHashTokens].getName, "simhash_tokens"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "simhash_tokens(text) takes exactly 1 argument")
      SimHashTokens(children.head)
    }), (
    new FunctionIdentifier("winnow_fingerprint"),
    new ExpressionInfo(classOf[WinnowFingerprint].getName, "winnow_fingerprint"),
    (children: Seq[Expression]) => {
      require(children.size == 3,
        "winnow_fingerprint(text, k, w) takes exactly 3 arguments")
      WinnowFingerprint(children.head,
        intArg(children(1), "winnow_fingerprint", "k"),
        intArg(children(2), "winnow_fingerprint", "w"))
    }), (
    new FunctionIdentifier("token_repetition_stats"),
    new ExpressionInfo(classOf[TokenRepetitionStats].getName, "token_repetition_stats"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        "token_repetition_stats(text) takes exactly 1 argument")
      TokenRepetitionStats(children.head)
    }), (
    new FunctionIdentifier("token_gram_hashes"),
    new ExpressionInfo(classOf[TokenGramHashes].getName, "token_gram_hashes"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        "token_gram_hashes(text, k) takes exactly 2 arguments")
      TokenGramHashes(children.head, intArg(children(1), "token_gram_hashes", "k"))
    }), (
    new FunctionIdentifier("hll_registers"),
    new ExpressionInfo(classOf[HllRegisters].getName, "hll_registers"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        "hll_registers(hash32) takes exactly 1 argument")
      // the analyzer wraps AggregateFunction in AggregateExpression
      HllRegisters(children.head)
    }))
}
