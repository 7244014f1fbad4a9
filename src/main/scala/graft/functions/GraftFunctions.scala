package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.GraftBridge

/** SQL-surface registration for the engine's native expressions, so
  * `spark.sql("SELECT dot_product(a, b)")` works alongside the Column
  * API ([[DotProduct.apply]]).
  *
  * Two entry points:
  *  - [[GraftExtensions]]: the standard `SparkSessionExtensions` path —
  *    `SparkSession.builder.withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.functions.GraftExtensions` in conf.
  *  - [[GraftFunctions.register]]: runtime registration on an existing
  *    session (tests, notebooks), via the session's function registry.
  */
object GraftFunctions {

  /** `(text, n, word)` arguments of the MinHash signature functions:
    * `n` and `word` must be literals, since they select the kernel's
    * shingle shape at plan time.
    */
  private def minhashArgs(name: String,
                          args: Seq[Expression]): (Expression, Int, Boolean) = {
    require(args.length == 3,
      s"$name expects (text, n, word) — got ${args.length} arguments")
    require(args(1).foldable && args(2).foldable,
      s"$name n and word must be literals")
    val n = args(1).eval() match {
      case i: Number => i.intValue()
      case other => throw new IllegalArgumentException(
        s"$name n must be an integer literal, got $other")
    }
    val word = args(2).eval() match {
      case b: java.lang.Boolean => b.booleanValue()
      case other => throw new IllegalArgumentException(
        s"$name word must be a boolean literal, got $other")
    }
    (args.head, n, word)
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"dot_product expects 2 arguments, got ${args.length}")
        DotProduct(args.head, args(1))
      }),
    (FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"simhash60 expects 1 argument, got ${args.length}")
        SimHash60(args.head)
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        val (text, n, word) = minhashArgs("minhash_sig", args)
        MinHashSig(text, n, word)
      }),
    (FunctionIdentifier("minhash_classic_sig"),
      new ExpressionInfo(classOf[MinHashClassicSig].getName,
        "minhash_classic_sig"),
      (args: Seq[Expression]) => {
        val (text, n, word) = minhashArgs("minhash_classic_sig", args)
        MinHashClassicSig(text, n, word)
      }),
    (FunctionIdentifier("media_dims"),
      new ExpressionInfo(classOf[MediaDims].getName, "media_dims"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"media_dims expects 1 argument, got ${args.length}")
        MediaDims(args.head)
      }),
    (FunctionIdentifier("audio_meta"),
      new ExpressionInfo(classOf[AudioMeta].getName, "audio_meta"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"audio_meta expects 1 argument, got ${args.length}")
        AudioMeta(args.head)
      }),
    (FunctionIdentifier("video_meta"),
      new ExpressionInfo(classOf[VideoMeta].getName, "video_meta"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"video_meta expects 1 argument, got ${args.length}")
        VideoMeta(args.head)
      }),
    (FunctionIdentifier("exif_orientation"),
      new ExpressionInfo(classOf[ExifOrientation].getName, "exif_orientation"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"exif_orientation expects 1 argument, got ${args.length}")
        ExifOrientation(args.head)
      }),
    (FunctionIdentifier("dhash32"),
      new ExpressionInfo(classOf[DHash32].getName, "dhash32"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"dhash32 expects 1 argument, got ${args.length}")
        DHash32(args.head)
      }),
    (FunctionIdentifier("binary_chunks"),
      new ExpressionInfo(classOf[BinaryChunks].getName, "binary_chunks"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"binary_chunks expects 1 argument, got ${args.length}")
        BinaryChunks(args.head)
      }),
    (FunctionIdentifier("cdc_envelope"),
      new ExpressionInfo(classOf[CdcEnvelopeParse].getName, "cdc_envelope"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"cdc_envelope expects 1 argument, got ${args.length}")
        CdcEnvelopeParse(args.head)
      }),
    (FunctionIdentifier("bpe_merge"),
      new ExpressionInfo(classOf[BpeMerge].getName, "bpe_merge"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"bpe_merge expects (sym, lhs, rhs) — got ${args.length} arguments")
        BpeMerge(args.head, args(1), args(2))
      }))

  /** Register on a live session (idempotent). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (ident, _, builder) =>
      GraftBridge.registerFunction(spark, ident.funcName, builder)
    }
}

/** Injectable extensions: function registrations (and the anchor point
  * for any future custom rule/strategy — none are needed yet,
  * SURVEY.md §7.5).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.RewriteRowNumberTopK)
  }
}
