package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.Literal
import graft.functions.{BpeSymCount, JsonFirstLong, DotProduct, ImageHeader, MatchCount, MinHashSig, Mp4Header, NpyHeader, PairCombs, RhpBuckets, RhpProbes, ScriptCounts, SimHash60, StopCounts, TarMembers, TarSamples, WavHeader, WordShingles}

/** Session extensions registering graft's native Catalyst expressions so
  * they are callable from SQL and `expr(...)` — the public
  * `SparkSessionExtensions` route (no sessionState internals) — and the
  * three plan rules that take a repeated dashboard interaction's fixed
  * cost away: [[BindFilterConstants]] (query-stage preparation),
  * [[BindCachedScanConstants]] (planner strategy) and
  * [[SortSmallStageLocally]] (AQE runtime optimizer). Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Parameters like k/n are plan-shape constants, not data — required to
    * be integer literals so the expression can bake them into codegen.
    */
  private def litInt(args: Seq[Expression], i: Int): Int = args(i) match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"argument $i must be an integer literal, got $other")
  }

  /** Arity guard for the one-argument builders: `args.head` on an empty
    * list throws a bare NoSuchElementException from SQL — the same
    * contract-error class the json_first_long/bpe_sym_count builders
    * name explicitly. Every unary registration goes through here.
    */
  private def unary(args: Seq[Expression], name: String): Expression = {
    if (args.length != 1) throw new IllegalArgumentException(
      s"$name expects exactly 1 argument — got ${args.length}")
    args.head
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectQueryStagePrepRule(_ => BindFilterConstants)
    ext.injectPlannerStrategy(BindCachedScanConstants)
    ext.injectRuntimeOptimizerRule(_ => SortSmallStageLocally)
    ext.injectFunction((
      FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (args: Seq[Expression]) => SimHash60(unary(args, "simhash60"))))
    ext.injectFunction((
      FunctionIdentifier("phash60"),
      new ExpressionInfo(classOf[graft.functions.PHash60].getName, "phash60"),
      (args: Seq[Expression]) =>
        graft.functions.PHash60(unary(args, "phash60"))))
    ext.injectFunction((
      FunctionIdentifier("phash60p"),
      new ExpressionInfo(classOf[graft.functions.PHash60].getName, "phash60p"),
      (args: Seq[Expression]) =>
        graft.functions.PHash60(unary(args, "phash60p"), perceptual = true)))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (args: Seq[Expression]) => DotProduct(args.head, args(1))))
    ext.injectFunction((
      FunctionIdentifier("pair_combs"),
      new ExpressionInfo(classOf[PairCombs].getName, "pair_combs"),
      (args: Seq[Expression]) =>
        if (args.length > 1) PairCombs(args.head, litInt(args, 1))
        else PairCombs(args.head)))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => WordShingles(args.head, litInt(args, 1))))
    ext.injectFunction((
      FunctionIdentifier("stop_counts"),
      new ExpressionInfo(classOf[StopCounts].getName, "stop_counts"),
      (args: Seq[Expression]) => StopCounts(unary(args, "stop_counts"))))
    ext.injectFunction((
      FunctionIdentifier("image_header"),
      new ExpressionInfo(classOf[ImageHeader].getName, "image_header"),
      (args: Seq[Expression]) => ImageHeader(unary(args, "image_header"))))
    ext.injectFunction((
      FunctionIdentifier("wav_header"),
      new ExpressionInfo(classOf[WavHeader].getName, "wav_header"),
      (args: Seq[Expression]) => WavHeader(unary(args, "wav_header"))))
    ext.injectFunction((
      FunctionIdentifier("tar_members"),
      new ExpressionInfo(classOf[TarMembers].getName, "tar_members"),
      (args: Seq[Expression]) => TarMembers(unary(args, "tar_members"))))
    ext.injectFunction((
      FunctionIdentifier("tar_samples"),
      new ExpressionInfo(classOf[TarSamples].getName, "tar_samples"),
      (args: Seq[Expression]) => TarSamples(unary(args, "tar_samples"))))
    ext.injectFunction((
      FunctionIdentifier("npy_header"),
      new ExpressionInfo(classOf[NpyHeader].getName, "npy_header"),
      (args: Seq[Expression]) => NpyHeader(unary(args, "npy_header"))))
    ext.injectFunction((
      FunctionIdentifier("mp4_header"),
      new ExpressionInfo(classOf[Mp4Header].getName, "mp4_header"),
      (args: Seq[Expression]) => Mp4Header(unary(args, "mp4_header"))))
    ext.injectFunction((
      FunctionIdentifier("script_counts"),
      new ExpressionInfo(classOf[ScriptCounts].getName, "script_counts"),
      (args: Seq[Expression]) => ScriptCounts(unary(args, "script_counts"))))
    ext.injectFunction((
      FunctionIdentifier("match_count"),
      new ExpressionInfo(classOf[MatchCount].getName, "match_count"),
      (args: Seq[Expression]) => {
        val pattern = args(1) match {
          case Literal(p: org.apache.spark.unsafe.types.UTF8String, _) => p.toString
          case other => throw new IllegalArgumentException(
            s"match_count pattern must be a string literal, got $other")
        }
        MatchCount(args.head, pattern)
      }))
    ext.injectFunction((
      FunctionIdentifier("json_first_long"),
      new ExpressionInfo(classOf[JsonFirstLong].getName, "json_first_long"),
      (args: Seq[Expression]) => {
        if (args.length != 2) throw new IllegalArgumentException(
          s"json_first_long expects (json, key) — got ${args.length} argument(s)")
        val key = args(1) match {
          case Literal(p: org.apache.spark.unsafe.types.UTF8String, _) => p.toString
          case other => throw new IllegalArgumentException(
            s"json_first_long key must be a string literal, got $other")
        }
        JsonFirstLong(args.head, key)
      }))
    ext.injectFunction((
      FunctionIdentifier("bpe_sym_count"),
      new ExpressionInfo(classOf[BpeSymCount].getName, "bpe_sym_count"),
      (args: Seq[Expression]) => {
        if (args.length != 2) throw new IllegalArgumentException(
          s"bpe_sym_count expects (text, merge_spec) — got ${args.length} argument(s)")
        val spec = args(1) match {
          case Literal(p: org.apache.spark.unsafe.types.UTF8String, _) => p.toString
          case other => throw new IllegalArgumentException(
            s"bpe_sym_count merge spec must be a string literal, got $other")
        }
        BpeSymCount(args.head, spec)
      }))
    ext.injectFunction((
      FunctionIdentifier("zorder_key"),
      new ExpressionInfo(classOf[graft.functions.ZOrderKey].getName, "zorder_key"),
      (args: Seq[Expression]) => {
        if (args.length != 3) throw new IllegalArgumentException(
          s"zorder_key expects (x, y, bits) — got ${args.length} argument(s)")
        graft.functions.ZOrderKey(args.head, args(1), litInt(args, 2))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => MinHashSig(args.head, litInt(args, 1))))
    ext.injectFunction((
      FunctionIdentifier("rhp_buckets"),
      new ExpressionInfo(classOf[RhpBuckets].getName, "rhp_buckets"),
      (args: Seq[Expression]) => {
        def intArg(i: Int): Int = args(i) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"rhp_buckets argument $i must be an integer literal, got $other")
        }
        val seed = args(4) match {
          case Literal(v: Long, _) => v
          case Literal(v: Int, _)  => v.toLong
          case other => throw new IllegalArgumentException(
            s"rhp_buckets seed must be a literal, got $other")
        }
        RhpBuckets(args.head, intArg(1), intArg(2), intArg(3), seed)
      }))
    ext.injectFunction((
      FunctionIdentifier("rhp_probes"),
      new ExpressionInfo(classOf[RhpProbes].getName, "rhp_probes"),
      (args: Seq[Expression]) => {
        val seed = args(3) match {
          case Literal(v: Long, _) => v
          case Literal(v: Int, _)  => v.toLong
          case other => throw new IllegalArgumentException(
            s"rhp_probes seed must be a literal, got $other")
        }
        RhpProbes(args.head, litInt(args, 1), litInt(args, 2), seed, litInt(args, 4))
      }))
  }
}
