package graft.ops

/** Driver-side overlap of INDEPENDENT Spark actions — the
  * guide-§2.6 pattern (actions are only sequential because driver
  * code calls them sequentially; the scheduler happily interleaves
  * concurrent jobs' stages, FIFO back-fill). Used where a chain of
  * small artifact writes or bounded trainer collects would otherwise
  * pay one inter-job latency round EACH: the ANN index artifact
  * writes, the composed ingest pipeline's per-stage index appends,
  * the incremental bench rows' corpus-side index build vs
  * increment-side hashing, and the per-table searches of
  * `fts.Bm25.searchAll`. Safe only for actions that touch disjoint
  * state (disjoint output paths / independent collects) — which every
  * call site here documents.
  *
  * Thread budget: raw threads, deliberately uncapped — today's widest
  * composition is one ingest shard (≤5 deferred appends + 1 Bloom
  * fork + 1 front-door fork ≈ 7 concurrent driver threads), each
  * blocked on a Spark job the scheduler serializes anyway, so a pool
  * would add queueing semantics without bounding anything real. A
  * composition that fans out per-partition or per-key work (hundreds
  * of threads) must bring its own bounded pool — revisit this note
  * before building one.
  */
private[graft] object Concurrent {

  /** Run the thunks concurrently, join all, propagate the first
    * failure with the rest suppressed (a partial artifact set is
    * diagnosed from ALL of them, not one arbitrary stack).
    */
  def inParallel(tasks: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = tasks.map(t => new Thread(() => {
      try t() catch { case e: Throwable => errs.add(e) }
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    throwCollected(errs)
  }

  /** Start `body` on its own thread; the returned thunk joins it and
    * rethrows its failure — fork/join for overlapping ONE side job
    * (an index build) with main-thread work (the increment's kernel
    * pass), both inside the measured region.
    */
  def fork(body: => Unit): () => Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t = new Thread(() => {
      try body catch { case e: Throwable => errs.add(e) }
    })
    t.start()
    () => { t.join(); throwCollected(errs) }
  }

  /** [[fork]] for a value-producing side job: the returned thunk
    * joins and yields the result (or rethrows the failure).
    */
  def forkValue[T](body: => T): () => T = {
    @volatile var out: Option[T] = None
    val join = fork { out = Some(body) }
    () => { join(); out.get }
  }

  /** Run `body`; if it throws, join every fork in `pending` before
    * rethrowing — a failed composition must not leave forked jobs
    * running behind it — with their failures suppressed onto the
    * primary. A fork's join rethrows the same instance every time, so
    * the fork that raised the primary is never suppressed onto itself
    * (`addSuppressed(self)` throws and would hide the root cause).
    */
  def joinOnFailure[T](pending: (() => Any)*)(body: => T): T =
    try body
    catch {
      case e: Throwable =>
        pending.foreach { join =>
          try join()
          catch { case e2: Throwable => if (e2 ne e) e.addSuppressed(e2) }
        }
        throw e
    }

  private def throwCollected(
      errs: java.util.concurrent.ConcurrentLinkedQueue[Throwable]): Unit =
    if (!errs.isEmpty) {
      val it = errs.iterator()
      val first = it.next()
      while (it.hasNext) first.addSuppressed(it.next())
      throw first
    }
}

/** Deferred-append collector for a COMPOSED pipeline: each stage's
  * [[IndexStore.append]] is independent of every downstream stage's
  * compute (stages read only their OWN index, and the append's source
  * table is an already-materialized localCheckpoint), so the pipeline
  * submits appends here and lets them overlap stage compute;
  * [[await]] — called before the composition returns — joins them all
  * and rethrows the first failure. The cross-shard contract is
  * unchanged: by the time `ingestShard` returns, every index mutation
  * is durable, so the next shard (or a streaming micro-batch commit)
  * observes exactly the state a fully-sequential run would have left.
  */
private[graft] final class AppendBarrier {
  private val pending =
    scala.collection.mutable.ArrayBuffer.empty[(String, () => Unit)]

  def submit(body: => Unit): Unit = submitFor("")(body)

  /** [[submit]] tagged with the index path the append mutates, so a
    * BARRIER SHARED ACROSS SHARDS can release a stage as soon as the
    * PREVIOUS shard's append to that one path is durable
    * ([[awaitFor]]) instead of serializing whole shards on the full
    * append set.
    */
  def submitFor(path: String)(body: => Unit): Unit = synchronized {
    pending += path -> Concurrent.fork(body)
  }

  /** Join every submitted append; first failure rethrows (with the
    * rest suppressed via [[Concurrent.fork]]'s per-thread capture).
    */
  def await(): Unit = awaitWhere(_ => true)

  /** Join only the appends submitted for `path` — the fine-grained
    * cross-shard gate: a stage about to pin a manifest snapshot of
    * one index awaits exactly that index's in-flight appends, while
    * every other path's appends keep overlapping its compute.
    */
  def awaitFor(path: String): Unit = awaitWhere(_ == path)

  private def awaitWhere(p: String => Boolean): Unit = {
    val ps = synchronized {
      val (mine, keep) = pending.partition(t => p(t._1))
      pending.clear(); pending ++= keep
      mine.toVector
    }
    // join all before rethrowing so no append is left running
    val errs = ps.flatMap { case (_, j) =>
      try { j(); None } catch { case e: Throwable => Some(e) }
    }
    errs.headOption.foreach { first =>
      errs.drop(1).foreach(first.addSuppressed)
      throw first
    }
  }
}
