package graft.operators

/** Reflective adapter for the `langdetect` library the reference seeds
  * deterministically (assets/processing/assets.py:318-327 sets
  * `DetectorFactory.seed = 0` before detecting) — the JVM port is the
  * com.cybozu.labs.langdetect artifact. The jar is NOT resolvable in this
  * container (offline coursier cache), so the adapter reports
  * unavailable and [[bestDetect]] falls back to the engine's own green
  * stopword+script classifier ([[TextAnalysis.languageId]]'s scalar
  * twin); when the jar lands on the classpath the seeded path activates
  * with zero code change — the OnnxEncoder/CliOcr drop-in discipline.
  *
  * Seed contract mirrored exactly: `DetectorFactory.setSeed(0)` once
  * before any `create()`, profiles loaded from
  * SPARK_GRAFT_LANGDETECT_PROFILES (the library needs its profile
  * directory; the python package bundles one, the JVM port takes a
  * path). Detection failures (too short, no features) return None —
  * callers keep their fallback, the reference's own try/except shape.
  */
object LangDetectAdapter {

  private val FactoryClass = "com.cybozu.labs.langdetect.DetectorFactory"

  lazy val available: Boolean =
    try {
      Class.forName(FactoryClass)
      sys.env.get("SPARK_GRAFT_LANGDETECT_PROFILES")
        .exists(p => new java.io.File(p).isDirectory) && initialized
    } catch { case _: Throwable => false }

  private lazy val initialized: Boolean =
    try {
      val fc = Class.forName(FactoryClass)
      // the reference's determinism contract: seed BEFORE any detector
      fc.getMethod("setSeed", classOf[Long])
        .invoke(null, java.lang.Long.valueOf(0L))
      fc.getMethod("loadProfile", classOf[String])
        .invoke(null, sys.env("SPARK_GRAFT_LANGDETECT_PROFILES"))
      true
    } catch { case _: Throwable => false }

  /** Seeded-langdetect language code, None when the library is absent or
    * detection fails (the reference catches LangDetectException and keeps
    * its metadata/default fallback). */
  def detect(text: String): Option[String] =
    if (!available || text == null || text.isEmpty) None
    else
      try {
        val fc = Class.forName(FactoryClass)
        val det = fc.getMethod("create").invoke(null)
        val dc = det.getClass
        dc.getMethod("append", classOf[String]).invoke(det, text)
        Option(dc.getMethod("detect").invoke(det)).map(_.toString)
      } catch { case _: Throwable => None }

  /** The production resolution order: seeded langdetect when present,
    * else the engine's own classifier — scalar twin of
    * [[TextAnalysis.languageId]] (same stopword sets, same tie rule,
    * same script ranges), spec-pinned equal to the Column form. */
  def bestDetect(text: String): String =
    detect(text).getOrElse(stopwordDetect(text))

  /** Scalar mirror of [[TextAnalysis.languageId]]: distinct-word stopword
    * hits per language, best score wins, ties to the alphabetically
    * first language; kana/hangul/han script ranges force ja/ko/zh; no
    * hits → "und". Kept in lockstep by LangDetectAdapterSpec's
    * equivalence test against the Column implementation. */
  def stopwordDetect(text: String): String = {
    if (text == null) return "und"
    // same script ranges as the Column form's rlike classes
    if (text.exists(c => c >= 0x3040 && c <= 0x30ff)) return "ja"
    if (text.exists(c => c >= 0xac00 && c <= 0xd7af)) return "ko"
    if (text.exists(c => c >= 0x4e00 && c <= 0x9fff)) return "zh"
    val ws = text.trim.toLowerCase.split("\\s+").toSet
    val scored = TextAnalysis.StopwordSets.toSeq.sortBy(_._1).map {
      case (lang, stops) => (lang, stops.count(ws.contains))
    }
    // first language (alphabetical scan order) holding the max score —
    // the Column form's FIRST-wins tie rule
    val top = scored.map(_._2).max
    if (top == 0) "und" else scored.find(_._2 == top).get._1
  }
}
