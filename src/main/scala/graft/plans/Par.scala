package graft.plans

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.SparkSession

/** Driver-side overlap of INDEPENDENT job legs (optimization guide §2.6:
  * "Spark's scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because your driver code
  * calls them sequentially").
  *
  * The iterative operators here materialize eager pins
  * ([[Pins.pin]] = `localCheckpoint(true)`) from driver loops, so two
  * independent pin chains invoked one after the other serialize dozens
  * of small jobs that could back-fill each other's scheduling gaps and
  * stage tails — at local[32] the loops are per-round-latency-bound and
  * leave most cores idle, and on a cluster the tail of one leg's stage
  * leaves executors free for the other (the guide's motivating case).
  *
  * `both` runs the second thunk on a dedicated thread while the first
  * runs on the caller's: same frames, same plans, same values — only
  * the job timeline overlaps. Each call uses a fresh daemon thread
  * (never a ForkJoin common pool, whose lazily-created workers would
  * capture inheritable thread-locals — job group / description — from
  * whichever caller happened to create them).
  *
  * Failure: each leg's Spark jobs carry a job tag of their own (job tags
  * are thread-local properties, inherited by the threads a leg starts).
  * The first leg to fail cancels the other leg's running jobs by that
  * tag, so an abandoned leg stops computing instead of holding executors
  * — its later jobs would still run, but a cancelled action throws and
  * ends the leg. `both` then rethrows that first failure, with the other
  * leg's own failure (typically the cancellation) attached as suppressed.
  *
  * Determinism: both legs compute exactly what they computed when
  * sequential — no shared mutable state, and concurrent actions on one
  * SparkSession are supported (FIFO-scheduled). Oracle hashes are
  * therefore unchanged by construction.
  */
object Par {
  private val calls = new AtomicLong()

  def both[A, B](a: => A, b: => B): (A, B) = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val call = calls.incrementAndGet()
    val (tagA, tagB) = (s"graft-par-$call-a", s"graft-par-$call-b")
    val first = new AtomicReference[Throwable]()
    def run[T](tag: String, other: String)(leg: => T): Either[Throwable, T] = {
      sc.foreach(_.addJobTag(tag))
      try Right(leg)
      catch {
        case e: Throwable =>
          if (first.compareAndSet(null, e))
            sc.filterNot(_.isStopped).foreach(_.cancelJobsWithTag(other,
              s"a sibling Par leg failed: $e"))
          Left(e)
      } finally sc.foreach(_.removeJobTag(tag))
    }
    val rb = new AtomicReference[Either[Throwable, B]]()
    // constructed before the caller tags itself: the thread inherits the
    // caller's local properties as they are at construction
    val t = new Thread(() => rb.set(run(tagB, tagA)(b)), "graft-par")
    t.setDaemon(true)
    t.start()
    val ra = run(tagA, tagB)(a)
    if (ra.isRight) t.join()
    else {
      // Never leave the second leg running unobserved — but never let a
      // caller-leg failure become a driver HANG either (ADVICE r17): join
      // with a bounded timeout, and interrupt a leg that outlives it.
      try {
        t.join(FailJoinMs)
        if (t.isAlive) { t.interrupt(); t.join(FailJoinMs) }
      } catch {
        case ie: InterruptedException =>
          Thread.currentThread().interrupt()
          first.get().addSuppressed(ie)
      }
    }
    (ra, Option(rb.get())) match {
      case (Right(va), Some(Right(vb))) => (va, vb)
      case (la, lb) =>
        val e = first.get()
        Seq(la.left.toOption, lb.flatMap(_.left.toOption)).flatten
          .filter(_ ne e).foreach(e.addSuppressed)
        throw e
    }
  }

  /** Bounded wait for the threaded leg when the CALLER leg has already
    * failed (the failure path only — the success path keeps the plain
    * join, where waiting is the contract). 60 s covers any straggling
    * Spark job tail; a leg still alive after interrupt+timeout is
    * abandoned as a daemon rather than hanging the driver. */
  private val FailJoinMs = 60000L

  /** Three-way [[both]] for triples of independent legs. */
  def three[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val (ra, (rbb, rc)) = both(a, both(b, c))
    (ra, rbb, rc)
  }
}
