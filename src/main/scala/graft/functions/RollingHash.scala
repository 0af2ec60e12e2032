package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 31-ary rolling polynomial hash of a
  * string modulo 1e9+7, over Unicode code points.
  *
  * The codegen'd loop runs inside whole-stage codegen — no per-row
  * array materialization, no UDF serialization boundary — replacing the
  * `aggregate(transform(split(text, '')))` fold (which allocates a
  * per-character string array for every row). Same value as the SQL
  * fold `reduce(chars, (a, c) -> (a * 31 + unicode(c)) % 1000000007)`,
  * so external engines can verify it.
  */
case class RollingHash(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val cp = ctx.freshName("cp")
      s"""
         |java.lang.String $s = $c.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * 31L + $cp) % 1000000007L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  def hash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Registration of the engine's native SQL functions. */
object GraftFunctions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("rolling_hash"),
        new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "rolling_hash takes exactly one argument")
          RollingHash(args.head)
        }),
      (
        FunctionIdentifier("array_dot"),
        new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "array_dot takes exactly two arguments")
          ArrayDot(args(0), args(1))
        }),
      (
        FunctionIdentifier("unicode_normalize"),
        new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "unicode_normalize(str, 'NFC'|'NFD'|'NFKC'|'NFKD')")
          val form = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(s, _) if s != null =>
              s.toString
            case other => throw new IllegalArgumentException(
              s"unicode_normalize form must be a string literal, got $other")
          }
          UnicodeNormalize(args.head, form)
        }),
      (
        FunctionIdentifier("shingle_min_hashes"),
        new ExpressionInfo(classOf[ShingleMinHashes].getName, "shingle_min_hashes"),
        (args: Seq[Expression]) => {
          require(args.length == 3, "shingle_min_hashes(text, n, k)")
          def intLit(e: Expression, name: String): Int = e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"shingle_min_hashes $name must be an int literal, got $other")
          }
          ShingleMinHashes(args.head, intLit(args(1), "n"), intLit(args(2), "k"))
        }),
      (
        FunctionIdentifier("bigram_pair_counts"),
        new ExpressionInfo(classOf[BigramPairCounts].getName, "bigram_pair_counts"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "bigram_pair_counts takes exactly one argument")
          BigramPairCounts(args.head)
        }),
      (
        FunctionIdentifier("sim_hash"),
        new ExpressionInfo(classOf[SimHash].getName, "sim_hash"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "sim_hash(text, bits)")
          val bits = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"sim_hash bits must be an int literal, got $other")
          }
          SimHash(args.head, bits)
        }),
      (
        FunctionIdentifier("shingle_hashes"),
        new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
        (args: Seq[Expression]) => {
          require(args.length == 4, "shingle_hashes(text, n, hexLen, dedup)")
          def lit(e: Expression, name: String): Any = e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null => v
            case other => throw new IllegalArgumentException(
              s"shingle_hashes $name must be a literal, got $other")
          }
          ShingleHashes(args.head,
            lit(args(1), "n").toString.toInt,
            lit(args(2), "hexLen").toString.toInt,
            lit(args(3), "dedup").toString.toBoolean)
        }),
      (
        FunctionIdentifier("winnow_fps"),
        new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
        (args: Seq[Expression]) => {
          require(args.length == 4, "winnow_fps(text, n, hexLen, w)")
          def intLit(e: Expression, name: String): Int = e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"winnow_fps $name must be an int literal, got $other")
          }
          WinnowFps(args.head, intLit(args(1), "n"), intLit(args(2), "hexLen"),
            intLit(args(3), "w"))
        }),
      (
        FunctionIdentifier("pq_reconstruct"),
        new ExpressionInfo(classOf[PqReconstruct].getName, "pq_reconstruct"),
        (args: Seq[Expression]) => {
          require(args.length == 3, "pq_reconstruct(vec, codebook, m)")
          import org.apache.spark.sql.catalyst.expressions.Literal
          import org.apache.spark.sql.catalyst.util.ArrayData
          import org.apache.spark.sql.types.{ArrayType, DoubleType}
          val cb = args(1) match {
            case Literal(ad: ArrayData, ArrayType(ArrayType(DoubleType, _), _)) =>
              (0 until ad.numElements())
                .map(i => ad.getArray(i).toDoubleArray()).toArray
            case other => throw new IllegalArgumentException(
              s"pq_reconstruct codebook must be an array<array<double>> literal, got $other")
          }
          val m = args(2) match {
            case Literal(v, _) if v != null => v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"pq_reconstruct m must be an int literal, got $other")
          }
          PqReconstruct(args.head, cb, m)
        }),
      (
        FunctionIdentifier("mat_vec_fold"),
        new ExpressionInfo(classOf[MatVecFold].getName, "mat_vec_fold"),
        (args: Seq[Expression]) => {
          require(args.length == 3, "mat_vec_fold(vec, matrix, scale)")
          import org.apache.spark.sql.catalyst.expressions.Literal
          import org.apache.spark.sql.catalyst.util.ArrayData
          import org.apache.spark.sql.types.{ArrayType, DoubleType}
          val mat = args(1) match {
            case Literal(ad: ArrayData, ArrayType(ArrayType(DoubleType, _), _)) =>
              (0 until ad.numElements())
                .map(i => ad.getArray(i).toDoubleArray()).toArray
            case other => throw new IllegalArgumentException(
              s"mat_vec_fold matrix must be an array<array<double>> literal, got $other")
          }
          val scale = args(2) match {
            case Literal(v, _) if v != null => v.toString.toDouble
            case other => throw new IllegalArgumentException(
              s"mat_vec_fold scale must be a double literal, got $other")
          }
          MatVecFold(args.head, mat, scale)
        }),
      (
        FunctionIdentifier("sq8_recon"),
        new ExpressionInfo(classOf[Sq8Recon].getName, "sq8_recon"),
        (args: Seq[Expression]) => {
          require(args.length == 3, "sq8_recon(vec, mn, mx)")
          import org.apache.spark.sql.catalyst.expressions.Literal
          import org.apache.spark.sql.catalyst.util.ArrayData
          import org.apache.spark.sql.types.{ArrayType, DoubleType}
          def arr(e: Expression, name: String): Array[Double] = e match {
            case Literal(ad: ArrayData, ArrayType(DoubleType, _)) =>
              ad.toDoubleArray()
            case other => throw new IllegalArgumentException(
              s"sq8_recon $name must be an array<double> literal, got $other")
          }
          Sq8Recon(args.head, arr(args(1), "mn"), arr(args(2), "mx"))
        }),
      (
        FunctionIdentifier("remove_word_positions"),
        new ExpressionInfo(classOf[RemoveWordPositions].getName,
          "remove_word_positions"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "remove_word_positions(text, positions)")
          RemoveWordPositions(args.head, args(1))
        }),
      (
        FunctionIdentifier("shingle_md5s"),
        new ExpressionInfo(classOf[ShingleMd5s].getName, "shingle_md5s"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "shingle_md5s(text, n)")
          val n = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"shingle_md5s n must be an int literal, got $other")
          }
          ShingleMd5s(args.head, n)
        }),
      (
        FunctionIdentifier("jaro_winkler"),
        new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "jaro_winkler(a, b)")
          JaroWinkler(args.head, args(1))
        }),
      (
        FunctionIdentifier("cdc_chunks"),
        new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "cdc_chunks(text, maskBits)")
          val mb = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"cdc_chunks maskBits must be an int literal, got $other")
          }
          CdcChunks(args.head, mb)
        }),
      (
        FunctionIdentifier("shingle_minhash_set"),
        new ExpressionInfo(classOf[ShingleMinHashSet].getName, "shingle_minhash_set"),
        (args: Seq[Expression]) => {
          require(args.length == 3, "shingle_minhash_set(text, n, k)")
          def intLit(e: Expression, name: String): Int = e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"shingle_minhash_set $name must be an int literal, got $other")
          }
          ShingleMinHashSet(args.head, intLit(args(1), "n"), intLit(args(2), "k"))
        }),
      (
        // Bounded top-k aggregate (Spark's built-in CollectTopK, the
        // TypedImperativeAggregate behind pandas-on-Spark nsmallest):
        // each partial buffer is a k-bounded priority queue, so map-side
        // partial aggregation reduces every task to <= k rows per group
        // BEFORE the shuffle — the scale-safe replacement for a
        // per-group rank window over an unbounded candidate stream.
        // reverse=true keeps the k SMALLEST by the child's natural
        // ordering (ascending), which composes with a (sortKey, id)
        // struct child for deterministic ties.
        FunctionIdentifier("graft_top_k"),
        new ExpressionInfo(
          classOf[org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK].getName,
          "graft_top_k"),
        (args: Seq[Expression]) => {
          require(args.length == 3, "graft_top_k(child, k, reverse)")
          def lit(e: Expression, name: String): Any = e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null => v
            case other => throw new IllegalArgumentException(
              s"graft_top_k $name must be a literal, got $other")
          }
          new org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
            args.head,
            lit(args(1), "k").toString.toInt,
            lit(args(2), "reverse").toString.toBoolean,
            0, 0)
        }),
      (
        // Spark's built-in (internal-registry-only) bloom filter
        // aggregate, surfaced for the explicit bloom-pruned-join
        // operator: xxhash64-based, binary buffer, codegen'd probe —
        // the runtime-filter machinery itself, minus the planner rule.
        FunctionIdentifier("graft_bloom_agg"),
        new ExpressionInfo(
          classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
          "graft_bloom_agg"),
        (args: Seq[Expression]) => {
          require(args.length == 3, "graft_bloom_agg(xxhash64(key), items, bits)")
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            args.head, args(1), args(2))
        }),
      (
        FunctionIdentifier("graft_bloom_contains"),
        new ExpressionInfo(
          classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
          "graft_bloom_contains"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_bloom_contains(filter, xxhash64(key))")
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            args.head, args(1))
        }),
      (
        FunctionIdentifier("tdigest_quantile"),
        new ExpressionInfo(classOf[TDigestQuantile].getName, "tdigest_quantile"),
        (args: Seq[Expression]) => {
          require(args.length == 2 || args.length == 3,
            "tdigest_quantile(col, q[, compression])")
          def dblLit(e: Expression, name: String): Double = e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toDouble
            case other => throw new IllegalArgumentException(
              s"tdigest_quantile $name must be a numeric literal, got $other")
          }
          val comp = if (args.length == 3) dblLit(args(2), "compression") else 100.0
          TDigestQuantile(args.head, dblLit(args(1), "q"), comp)
        }),
      (
        FunctionIdentifier("graft_feature_dot"),
        new ExpressionInfo(classOf[FeatureDot].getName, "graft_feature_dot"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_feature_dot(fx, weights_literal)")
          val ws = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(
                a: org.apache.spark.sql.catalyst.util.ArrayData,
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.DoubleType, _)) =>
              a.toDoubleArray()
            case other => throw new IllegalArgumentException(
              s"graft_feature_dot weights must be an array<double> literal, got $other")
          }
          FeatureDot(args.head, ws)
        }),
      (
        FunctionIdentifier("collect_capped"),
        new ExpressionInfo(classOf[CollectCapped].getName, "collect_capped"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "collect_capped(col, maxSize)")
          val maxSize = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"collect_capped maxSize must be an int literal, got $other")
          }
          CollectCapped(args.head, maxSize)
        }),
      (
        FunctionIdentifier("word_bag_features"),
        new ExpressionInfo(classOf[WordBagFeatures].getName, "word_bag_features"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "word_bag_features(text, buckets)")
          val b = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"word_bag_features buckets must be an int literal, got $other")
          }
          WordBagFeatures(args.head, b)
        }),
      (
        FunctionIdentifier("shingle_md5_bins"),
        new ExpressionInfo(classOf[ShingleMd5Bins].getName, "shingle_md5_bins"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "shingle_md5_bins(text, n)")
          val n = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"shingle_md5_bins n must be an int literal, got $other")
          }
          ShingleMd5Bins(args.head, n)
        }),
      (
        FunctionIdentifier("graft_viterbi"),
        new ExpressionInfo(classOf[ViterbiPieces].getName, "graft_viterbi"),
        (args: Seq[Expression]) => {
          require(args.length == 3, "graft_viterbi(word, logprob_map_literal, maxLen)")
          import org.apache.spark.sql.catalyst.expressions.Literal
          import org.apache.spark.sql.catalyst.util.MapData
          import org.apache.spark.sql.types.{DoubleType, MapType, StringType}
          val lp = args(1) match {
            case Literal(m: MapData, MapType(StringType, DoubleType, _)) =>
              val ks = m.keyArray()
              val vs = m.valueArray()
              (0 until m.numElements()).map(i =>
                ks.getUTF8String(i).toString -> vs.getDouble(i)).toMap
            case other => throw new IllegalArgumentException(
              s"graft_viterbi log-prob table must be a map<string,double> literal, got $other")
          }
          val ml = args(2) match {
            case Literal(v, _) if v != null => v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"graft_viterbi maxLen must be an int literal, got $other")
          }
          ViterbiPieces(args.head, lp, ml)
        }),
      (
        FunctionIdentifier("graft_bpe_pieces"),
        new ExpressionInfo(classOf[BpePieces].getName, "graft_bpe_pieces"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_bpe_pieces(text, merges_array_literal)")
          BpePieces(args.head, BpeKernels.decodeMerges(args(1)))
        }),
      (
        FunctionIdentifier("graft_bpe_count"),
        new ExpressionInfo(classOf[BpeCount].getName, "graft_bpe_count"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_bpe_count(text, merges_array_literal)")
          BpeCount(args.head, BpeKernels.decodeMerges(args(1)))
        }),
      (
        FunctionIdentifier("graft_bpe_encode"),
        new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe_encode"),
        (args: Seq[Expression]) => {
          require(args.length == 3,
            "graft_bpe_encode(text, merges_array_literal, sep)")
          val sep = args(2) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
              if v != null => v.toString
            case other => throw new IllegalArgumentException(
              s"graft_bpe_encode sep must be a string literal, got $other")
          }
          BpeEncode(args.head, BpeKernels.decodeMerges(args(1)), sep)
        }),
      (
        FunctionIdentifier("graft_wordpiece"),
        new ExpressionInfo(classOf[WordPieceCount].getName, "graft_wordpiece"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_wordpiece(word, vocab_array_literal)")
          import org.apache.spark.sql.catalyst.expressions.Literal
          import org.apache.spark.sql.catalyst.util.ArrayData
          import org.apache.spark.sql.types.{ArrayType, StringType}
          val vocab = args(1) match {
            case Literal(a: ArrayData, ArrayType(StringType, _)) =>
              a.toObjectArray(StringType)
                .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
                .toSeq
            case other => throw new IllegalArgumentException(
              s"graft_wordpiece vocab must be an array<string> literal, got $other")
          }
          WordPieceCount(args.head, vocab)
        }),
      (
        FunctionIdentifier("char_gram_features"),
        new ExpressionInfo(classOf[CharGramFeatures].getName, "char_gram_features"),
        (args: Seq[Expression]) => {
          require(args.length == 3, "char_gram_features(text, n, buckets)")
          def intLit(e: Expression, name: String): Int = e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"char_gram_features $name must be an int literal, got $other")
          }
          CharGramFeatures(args.head, intLit(args(1), "n"), intLit(args(2), "buckets"))
        }),
      (
        FunctionIdentifier("graft_script_counts"),
        new ExpressionInfo(classOf[ScriptCounts].getName,
          "graft_script_counts"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "graft_script_counts(text)")
          ScriptCounts(args.head)
        }),
      (
        FunctionIdentifier("deflate_len"),
        new ExpressionInfo(classOf[DeflateLen].getName, "deflate_len"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "deflate_len(text, level)")
          val level = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
              v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"deflate_len level must be an int literal, got $other")
          }
          DeflateLen(args.head, level)
        }))

  /** Imperative registration on an existing session (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
}
