package graft.perfbench

/** Empties graft's JVM-wide KDF memo, so each benchmark op starts cold as a
  * new job would. graft exposes no public reset, so this sits in graft's
  * package to reach the package-private one; it is the harness's only call
  * outside graft's public API. */
object MemoReset {
  def clear(): Unit = graft.functions.MaskFunctions.clearCache()
}
