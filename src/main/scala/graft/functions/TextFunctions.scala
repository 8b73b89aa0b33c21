package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Language-ID scoring kernel: counts characteristic marker substrings
  * (function words / character n-grams, public knowledge) per language in a
  * single scan of the text. The compositional form (one `regexp_replace`
  * per marker — 25 regex passes per row) costs ~10× more; this is the
  * codegen'd single-pass replacement.
  */
object TextImpl {

  /** (language, markers) profiles; markers are matched against the
    * lowercased text padded with single spaces. */
  val Profiles: Array[(String, Array[String])] = Array(
    "de" -> Array(" der ", " und ", " die ", " ein ", " sch"),
    "en" -> Array(" the ", " and ", " of ", " ing ", " to "),
    "es" -> Array(" el ", " la ", " de ", " que ", " los "),
    "fr" -> Array(" le ", " la ", " et ", " les ", " des "),
    "zh" -> Array("的", "了", "是", "我", "不"))

  private val langUtf8: Array[UTF8String] =
    Profiles.map(p => UTF8String.fromString(p._1))

  /** Non-overlapping occurrence count of `marker` in `s`. */
  private def countOcc(s: String, marker: String): Int = {
    var n = 0
    var i = s.indexOf(marker)
    while (i >= 0) { n += 1; i = s.indexOf(marker, i + marker.length) }
    n
  }

  /** Best (lang, score) for a document; ties resolve to the
    * lexicographically largest language code (matches the compositional
    * array_max-over-struct formulation). */
  def langBest(text: UTF8String): InternalRow = {
    // Locale.ROOT for machine-independent lowercasing (cross-executor determinism)
    val s = " " + text.toString.toLowerCase(java.util.Locale.ROOT) + " "
    var bestIdx = 0
    var bestScore = -1.0
    var p = 0
    while (p < Profiles.length) {
      val markers = Profiles(p)._2
      var score = 0.0
      var m = 0
      while (m < markers.length) {
        score += countOcc(s, markers(m)).toDouble
        m += 1
      }
      // profiles are sorted by code, so >= keeps the largest code on ties
      if (score >= bestScore) { bestScore = score; bestIdx = p }
      p += 1
    }
    InternalRow(langUtf8(bestIdx), bestScore)
  }
}

object TextFunctions {
  /** struct<lang_pred, lang_score> (see [[TextImpl.langBest]]). */
  def langId(text: Column): Column = Kernels.langBest(text)
}
