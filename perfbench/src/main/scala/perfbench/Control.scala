package perfbench

/** Negative control: the run's own gate must reject a perturbed answer
  * and count a throwing op, or the run is not correct. The control's
  * attempts are kept out of the workload's ledger and recorded apart.
  */
object Control {

  /** A result with the hits at ranks 1 and 2 swapped. */
  def swapTop2(h: Serve.Hits, q: Int): Serve.Hits = {
    val hs = h(q)
    h.updated(q, Seq((1, hs(1)._2, hs(1)._3), (2, hs(0)._2, hs(0)._3)) ++ hs.drop(2))
  }

  /** `perturbedPasses` runs the workload's check on a perturbed answer
    * and returns whether that check passed (it must not).
    */
  def run(ctx: Ctx, perturbedPasses: Option[() => Boolean]): Unit = {
    val (a0, f0, n0) = (ctx.attempted, ctx.failed, ctx.failures.size)
    ctx.inControl = true
    ctx.op("Control", "throws")(throw new IllegalStateException("negative control"))
    perturbedPasses.foreach { check =>
      ctx.attempted += 1
      if (!check()) ctx.fail(1, "perturbed answer rejected")
    }
    ctx.inControl = false
    val (att, bad) = (ctx.attempted - a0, ctx.failed - f0)
    ctx.attempted = a0
    ctx.failed = f0
    ctx.failures.dropRightInPlace(ctx.failures.size - n0)
    ctx.artifact("negative_control") = Map("attempted" -> att, "failed" -> bad,
      "failed_share" -> bad.toDouble / att, "perturbed_checked" -> perturbedPasses.isDefined)
    if (bad != att || perturbedPasses.isEmpty)
      ctx.fail(1, s"negative control: $bad of $att bad answers caught — the gate passes by construction")
  }
}
