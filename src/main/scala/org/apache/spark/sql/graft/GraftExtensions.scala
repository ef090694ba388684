package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.internal.StaticSQLConf

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql("... vec_dot(a,
  * b) ...")` works alongside the Column API ([[VectorColumns]]), and the
  * AQE rule [[SmallTerminalSort]]; it also defaults the size of Spark's
  * generated-class cache (see [[GraftExtensions.CodegenCacheMaxEntries]])
  * and the file:// file systems (see [[GraftExtensions.LocalFsDefaults]]).
  *
  * Install via `graft.Session` (the builder's `withExtensions`) or
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`.
  * Only the first reaches the defaults: the builder runs `apply` before
  * `build()` creates its `SparkConf`, while the conf route runs it after.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** One registration path for every function: arity is checked with the
    * standard WRONG_NUM_ARGS AnalysisException (the builder runs inside
    * the analyzer — a wrong arity is a user error that must carry the
    * error class + position the way built-ins report it), and the
    * ExpressionInfo carries usage text so `DESCRIBE FUNCTION` documents
    * the semantics instead of showing "N/A".
    */
  private def register(ext: SparkSessionExtensions, name: String,
      className: String, arity: Int, usage: String)(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(className, null, name, usage, ""),
      (children: Seq[Expression]) => {
        if (children.length != arity)
          throw org.apache.spark.sql.errors.QueryCompilationErrors
            .wrongNumArgsError(name, Seq(arity), children.length)
        build(children)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    // absent only: an explicit -D, or a builder .config that overrides
    // loaded properties, always wins
    System.getProperties.putIfAbsent(
      StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      GraftExtensions.CodegenCacheMaxEntries.toString)
    GraftExtensions.LocalFsDefaults.foreach { case (k, v) =>
      System.getProperties.putIfAbsent(k, v)
    }
    register(ext, "vec_dot", classOf[DotProductD].getName, 2,
      "vec_dot(a, b) - Dot product of two float/double arrays as DOUBLE, " +
        "accumulated strictly left-to-right. Returns NULL if either array " +
        "is NULL, contains a NULL element, or the lengths differ.")(
      c => DotProductD(c.head, c(1)))
    register(ext, "min_gram_hash", classOf[MinGramHash].getName, 1,
      "min_gram_hash(s) - Minimum base-31 polynomial hash over the " +
        "complete 8-byte windows of s (inputs shorter than 8 bytes hash " +
        "one space-padded window) as BIGINT; intended for ASCII-normalized " +
        "text fingerprinting. Returns NULL on NULL input.")(
      c => MinGramHash(c.head))
    register(ext, "min_chargram_hash", classOf[MinCharGramHash].getName, 1,
      "min_chargram_hash(s) - Minimum base-31 polynomial hash over the " +
        "complete 8-CODE-POINT windows of s (inputs shorter than 8 code " +
        "points hash one space-padded window) as BIGINT; the non-ASCII " +
        "twin of min_gram_hash for unsegmented-script fingerprinting. " +
        "Returns NULL on NULL input.")(
      c => MinCharGramHash(c.head))
    register(ext, "word_ngrams", classOf[WordNGrams].getName, 2,
      "word_ngrams(s, n) - Array of space-joined n-grams over the " +
        "maximal [a-z] runs of s (n a literal INT >= 1). With fewer than " +
        "n words the array holds ONE element: all words joined (the " +
        "empty string for wordless input). Returns NULL on NULL input.")(
      c => c(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)
            if v >= 1 => WordNGrams(c.head, v)
        case _ => throw org.apache.spark.sql.errors.QueryCompilationErrors
          .nonFoldableArgumentError("word_ngrams", "n",
            org.apache.spark.sql.types.IntegerType)
      })
    register(ext, "nfc", classOf[NfcNormalize].getName, 1,
      "nfc(s) - Unicode NFC normalization (UAX#15 canonical " +
        "composition), java.text.Normalizer semantics; the identity on " +
        "ASCII input (returned without allocation). The ingest-side pass " +
        "a multilingual dedup key applies BEFORE case folding. Returns " +
        "NULL on NULL input.")(
      c => NfcNormalize(c.head))
    register(ext, "casefold", classOf[CaseFold].getName, 1,
      "casefold(s) - Unicode FULL case folding (ICU default C+F: " +
        "sharp-s folds to ss, all sigma forms to medial sigma, " +
        "position-independent) - the operation lower() is not. Fold " +
        "AFTER nfc(): folding never normalizes. ASCII rows fold in a " +
        "byte scan. Returns NULL on NULL input.")(
      c => CaseFold(c.head))
    ext.injectQueryStagePrepRule(SmallTerminalSort)
  }
}

object GraftExtensions {

  /** The default for Spark's static `spark.sql.codegen.cache.maxEntries`
    * (Spark's own default is 100). `CodeGenerator` sizes its JVM-wide
    * cache of compiled classes once, at the first code generation, so a
    * cache smaller than the working set recompiles evicted classes on
    * every pass: the ten `interactive_mix` queries alone compile over 100.
    * Sized to at least twice the distinct classes one sweep of the whole
    * 158-query surface compiles, counted with an unbounded cache: 1,852
    * at sf0.01 and 1,839 at sf0.1, so the next power of two, 4096.
    * Bounded rather than unbounded: later sweeps still compile about 230
    * new classes each (stream micro-batches, `rel_bloom_join`), and a
    * long-lived JVM running ad hoc queries keeps adding such classes.
    * Measurements and precedence: SCALE.md, "Generated-class cache".
    */
  val CodegenCacheMaxEntries: Int = 4096

  /** The file:// file systems, as `spark.hadoop.*` defaults: both of
    * Hadoop's local file systems over [[_root_.graft.ForklessRawLocalFileSystem]],
    * which sets permissions and reads link status without starting a
    * `chmod` or `readlink` process. `fs.file.impl` serves `FileSystem`
    * (writers, committers, reliable checkpoints); the `AbstractFileSystem`
    * key serves `FileContext` (streaming checkpoint commits). Measurements
    * and precedence: SCALE.md, "Local file I/O".
    */
  val LocalFsDefaults: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" ->
      classOf[_root_.graft.ForklessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[_root_.graft.ForklessLocalFs].getName)
}
