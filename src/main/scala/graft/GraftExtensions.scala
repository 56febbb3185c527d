package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions, and its optimizer rule and planner
  * strategy, at session build time. [[Session.local]] installs it through
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // anchored-regex filename filters gain a pushable StartsWith conjunct
    e.injectOptimizerRule(_ => plans.RegexPrefixPushdown)
    // whole-operator top-k-per-key (bounded heaps + map-side partials)
    e.injectPlannerStrategy(_ => plans.TopKStrategy)
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

    e.injectFunction((FunctionIdentifier("extract_filename_dates"),
      new ExpressionInfo(classOf[functions.ExtractFilenameDates].getName,
        "extract_filename_dates"),
      es => functions.ExtractFilenameDates(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("derive_item_id"),
      new ExpressionInfo(classOf[functions.DeriveItemId].getName, "derive_item_id"),
      es => functions.DeriveItemId(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[functions.SimHash64].getName, "simhash64"),
      es => functions.SimHash64(es.head)))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[functions.CosineSim].getName, "cosine_sim"),
      es => functions.CosineSim(es.head, es(1))))

    // integral-literal arguments (tables/planes/k/w) resolve at parse time
    def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"expected an integer literal argument, got $other")
      }
    e.injectFunction((FunctionIdentifier("sign_lsh"),
      new ExpressionInfo(classOf[functions.SignLsh].getName, "sign_lsh"),
      es => functions.SignLsh(es.head, intLit(es(1)), intLit(es(2)),
        seed = 0L))) // the DataFrame-side default seed
    e.injectFunction((FunctionIdentifier("int_sign_lsh"),
      new ExpressionInfo(classOf[functions.IntSignLsh].getName, "int_sign_lsh"),
      es => functions.IntSignLsh(es.head, intLit(es(1)), intLit(es(2)),
        salt = "s16", qBits = 24))) // the DataFrame-side defaults
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[functions.MinHashSig].getName, "minhash_sig"),
      es => functions.MinHashSig(es.head, intLit(es(1)), intLit(es(2)))))
    e.injectFunction((FunctionIdentifier("md5_minhash_sig"),
      new ExpressionInfo(classOf[functions.Md5MinHashSig].getName,
        "md5_minhash_sig"),
      es => functions.Md5MinHashSig(es.head, intLit(es(1)))))
    e.injectFunction((FunctionIdentifier("winnow_fingerprint"),
      new ExpressionInfo(classOf[functions.WinnowFingerprint].getName,
        "winnow_fingerprint"),
      es => functions.WinnowFingerprint(es.head, intLit(es(1)), intLit(es(2)))))
    e.injectFunction((FunctionIdentifier("word_grams"),
      new ExpressionInfo(classOf[functions.WordGrams].getName, "word_grams"),
      es => functions.WordGrams(es.head, intLit(es(1)))))
    def strLit(e: org.apache.spark.sql.catalyst.expressions.Expression): String =
      e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(
          v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
        case other => throw new IllegalArgumentException(
          s"expected a string literal argument, got $other")
      }
    // c4_line_gate(lines, min_words, banned...) — varargs banned terms
    e.injectFunction((FunctionIdentifier("c4_line_gate"),
      new ExpressionInfo(classOf[functions.C4LineGate].getName, "c4_line_gate"),
      es => functions.C4LineGate(es.head, intLit(es(1)),
        es.drop(2).map(strLit))))
    // multi_match(text, term...) — varargs blocklist terms
    e.injectFunction((FunctionIdentifier("multi_match"),
      new ExpressionInfo(classOf[functions.MultiMatch].getName, "multi_match"),
      es => functions.MultiMatch(es.head, es.drop(1).map(strLit))))
    // robots_match(path, pattern) — RFC 9309 wildcard/$ rule match
    e.injectFunction((FunctionIdentifier("robots_match"),
      new ExpressionInfo(classOf[functions.RobotsMatch].getName, "robots_match"),
      es => functions.RobotsMatch(es.head, es(1))))
    // byte_map / byte_unmap — GPT-2's bijective byte alphabet
    e.injectFunction((FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[functions.NfcNormalize].getName,
        "nfc_normalize"),
      es => functions.NfcNormalize(es.head)))
    e.injectFunction((FunctionIdentifier("byte_map"),
      new ExpressionInfo(classOf[functions.ByteMap].getName, "byte_map"),
      es => functions.ByteMap(es.head, inverse = false)))
    e.injectFunction((FunctionIdentifier("byte_unmap"),
      new ExpressionInfo(classOf[functions.ByteMap].getName, "byte_unmap"),
      es => functions.ByteMap(es.head, inverse = true)))
  }
}
