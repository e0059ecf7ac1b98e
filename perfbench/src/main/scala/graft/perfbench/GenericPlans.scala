package graft.perfbench

/** Runs a block with graft's SketchAgg strategy switched off, so the
  * generic Spark aggregate plans compute the reference results (the
  * same reference the SketchAgg bit-identity specs compare against). */
object GenericPlans {
  def apply[T](body: => T): T = {
    val saved = graft.operators.SketchAgg.enabled
    graft.operators.SketchAgg.enabled = false
    try body finally graft.operators.SketchAgg.enabled = saved
  }
}
