package graft

/** The ONE teardown list for every module's memoized implicit stores
  * (temp-dir indexes, persisted shingle tiers, gap-fill grids). Every
  * main that can run ARBITRARY declared queries calls this on
  * shutdown — per-main copy-paste lists drifted twice, each time
  * silently leaking the modules the copy predated. Adding a module's
  * releaseCaches here is the whole registration. */
object Caches {
  def releaseAll(): Unit = {
    graft.operators.Dedup.releaseCaches()
    graft.operators.Ann.releaseCaches()
    graft.operators.TextAnalysis.releaseCaches()
    graft.operators.Pipeline.releaseCaches()
    graft.operators.MlIndex.releaseCaches()
    graft.operators.Events.releaseCaches()
    graft.operators.Relational.releaseCaches()
    graft.operators.Multimodal.releaseCaches()
  }
}
