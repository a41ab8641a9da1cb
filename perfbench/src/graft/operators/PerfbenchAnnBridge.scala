package graft.operators

/** The engine's own probe rule, for the traced run's candidate counts.
  * `AnnOps.probeListsForModel` is private to this package, hence this
  * package. */
object PerfbenchAnnBridge {
  def probeLists(model: AnnOps.AnnModel, q: Seq[Float], nProbe: Int): Seq[Int] =
    AnnOps.probeListsForModel(model, q, nProbe)
}
