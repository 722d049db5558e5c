package graft.operators

/** Driver-side overlap of INDEPENDENT maintenance chains (guide §2.6:
  * "overlap independent jobs" — Spark's scheduler happily runs several
  * jobs at once; actions are only sequential because the calling code
  * calls them sequentially).
  *
  * The standing-store gates build 2–3 stores whose epoch writes /
  * compacts share no state: different store roots, no session-conf
  * mutation (the only conf-scoped operators — StreamingCuration's fold
  * and Dedup.duplicateClusters — serialize on [[graft.ScopedSessionConf]]
  * and are not store builders). Running one chain PER STORE from plain
  * driver threads lets one chain's tasks back-fill the executor slots
  * another chain's tail leaves idle, and overlaps the per-job driver
  * floor (Catalyst analysis + scheduling, ~0.1 s per small maintenance
  * job) that dominates these gates at test scale and any many-small-epoch
  * maintenance window at production scale.
  *
  * Contract: epoch writes to DISJOINT epochs of one store root may run
  * concurrently once that store's metadata exists — each writes its own
  * `epoch=N` directory under its own write-intent marker (UUID-named), so
  * the SparkEntry gates fan out several epochs of one root this way.
  * First-epoch seeding (the exclusive-create `_NBUCKETS` metadata) and
  * maintenance ops (compact, refit, rebucket) are serialized: run them
  * before or after the fan-out, never inside it.
  *
  * Failure surface matches the sequential form: every chain is joined,
  * the first failure rethrows (later ones ride as suppressed) — no
  * half-started chain is left running when the caller sees the error. */
object Overlap {
  def chains[T](tasks: (() => T)*): Seq[T] = {
    require(tasks.nonEmpty, "Overlap.chains needs at least one task")
    if (tasks.sizeIs == 1) return Seq(tasks.head())
    val results = new Array[Any](tasks.size)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      // plain threads, not a shared pool: chains are few (one per store),
      // and SparkContext's InheritableThreadLocal job properties / active
      // session propagate correctly to threads created HERE (a reused
      // pool thread would keep the properties of whoever created it)
      val th = new Thread(() => {
        try results(i) = t()
        catch { case e: Throwable => errors.add(e) }
      }, s"graft-overlap-$i")
      th.setDaemon(true)
      th
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errors.isEmpty) {
      val it = errors.iterator()
      val first = it.next()
      while (it.hasNext) first.addSuppressed(it.next())
      throw first
    }
    results.toSeq.asInstanceOf[Seq[T]]
  }
}
