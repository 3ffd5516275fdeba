package graft.surface

/** Opens TextSurface's post-processing step (variant-to-value mapping and
  * span recovery over one message's variant hits) to the benchmark, so
  * that its traced run can time that step on its own.
  */
object PerfbenchSurface {
  def postProcess(hits: Seq[TextSurface.VariantHit], message: String, entities: Seq[String],
      language: String = "en", lo: Int = 4, hi: Int = 7,
      minTokenSize: Int = 4): Map[String, Seq[TextSurface.Detection]] =
    TextSurface.postProcess(hits, graft.analyzer.Analyzer.lower(message), entities, language,
      lo, hi, minTokenSize)
}
