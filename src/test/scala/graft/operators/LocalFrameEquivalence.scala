package graft.operators

import graft.{Sliver, SparkSpec}

/** Pins driver-local routes to their frame paths through [[graft.Sliver]]:
  * `localPath` evaluates a body under the default budget and `framePath`
  * under budget 0, then both read Sliver's decision record and assert
  * that every named site took that path, and only that path. */
trait LocalFrameEquivalence extends SparkSpec {

  def localPath[A](sites: String*)(body: => A): A = routed(local = true, sites)(body)

  def framePath[A](sites: String*)(body: => A): A = routed(local = false, sites)(body)

  private def routed[A](local: Boolean, sites: Seq[String])(body: => A): A = {
    val before = Sliver.counts
    val out = withConf(Sliver.BudgetKey, if (local) None else Some("0"))(body)
    val seen = Sliver.since(before)
    sites.foreach { site =>
      val (l, f) = seen.getOrElse(site, (0L, 0L))
      assert(if (local) l > 0 && f == 0 else f > 0 && l == 0,
        s"$site routed local $l / frames $f times under ${if (local) "the default" else "a zero"} budget")
    }
    out
  }
}
