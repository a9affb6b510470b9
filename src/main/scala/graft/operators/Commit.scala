package graft.operators

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.commons.io.FileUtils

/** The one commit primitive under every publish protocol: WAP (f09 and
  * the published stores), the bucketed upsert and its rescale (f25),
  * the multi-table publishes (f19, f22), the CAS promote (f21), the
  * deletion-vector sidecar (f23), the `foreachBatch` state swap and the
  * s24/s25 frozen references. A protocol writes and audits its staged
  * directory, then calls [[swap]]; every reader of a swapped path calls
  * [[recover]] first.
  *
  * Protocol of one swap of `staged` into `target`:
  *
  *   1. mark `staged` complete: a `_commit` file (written aside, then
  *      renamed in) records the target, the aside and whether the aside
  *      is kept, as paths relative to `staged`'s parent;
  *   2. rename the current `target` to `aside` (a stale aside is
  *      deleted first);
  *   3. rename `staged` to `target` — the marker travels with the data;
  *   4. delete the aside unless it is kept (an archived version `v<N>`,
  *      the single-slot `published.old`).
  *
  * Renames use `ATOMIC_MOVE`, which throws rather than degrade to a copy,
  * so a cross-filesystem deployment fails loudly. Readers see the old
  * table or the new one; between the renames the target is briefly
  * absent, the local-FS gap a transactional table commit closes on an
  * object store. A swap whose `staged` is `None` is a removal: the
  * target moves aside and is deleted.
  *
  * Crash recovery: a killed JVM can stop a swap before, between or after
  * its renames. [[recover]] completes every interrupted swap FORWARD from
  * its complete staged dir — renaming a still-present target aside, then
  * the staged dir in — so the interrupted version is what every later
  * reader sees. It never renames an aside back (a replaced vector or
  * table must not come back to life: the f23 rule), and it never deletes
  * a staged dir, so a writer still filling one (unmarked) is never
  * disturbed; an unmarked staged dir is never promoted, and its writer
  * overwrites it on the retry. A discarded aside left by a crash after
  * both renames is garbage the next swap of the same target deletes.
  *
  * A swap that throws in a live JVM (a failed rename, the failpoint)
  * undoes itself: the target returns from its aside and the marker goes,
  * so the caller's rollback (f19/f22) starts from the state the swap
  * found. Swaps and recoveries hold one JVM-wide lock: they are
  * metadata-only, and a reader never observes another thread's swap half
  * done. Staged directory names start with `staging` — [[recover]] looks
  * only there, one level deep into `k=v` partition dirs (the bucketed
  * store's `staging/bucket=<b>`). */
object Commit {

  /** Where [[swap]]'s test-only failpoint fires. */
  sealed trait Point
  case object BeforeRenames extends Point
  case object BetweenRenames extends Point
  case object AfterRenames extends Point

  /** Test-only: called with every [[swap]]'s target at each [[Point]].
    * Copying the table's directory there captures the disk state a JVM
    * killed at that point leaves behind; throwing fails the swap there. */
  @volatile private[graft] var failpoint: (Point, File) => Unit = (_, _) => ()

  private val Marker = "_commit"

  /** Swap `staged` into `target`, parking the replaced target at `aside`
    * (see the protocol above). */
  def swap(staged: Option[File], target: File, aside: File,
      keepAside: Boolean = false): Unit = synchronized {
    staged.foreach(mark(_, target, aside, keepAside))
    val replaced = target.exists
    try {
      failpoint(BeforeRenames, target)
      if (replaced) { FileUtils.deleteQuietly(aside); move(target, aside) }
      failpoint(BetweenRenames, target)
      staged.foreach(promote(_, target))
    } catch { case e: Throwable =>
      if (replaced && !target.exists) move(aside, target)
      staged.foreach(st => FileUtils.deleteQuietly(new File(st, Marker)))
      throw e
    }
    failpoint(AfterRenames, target)
    if (!keepAside) FileUtils.deleteQuietly(aside): Unit
  }

  /** Complete every swap under `root` that a crash interrupted: each
    * marked `staging*` child of `root`, or marked `k=v` dir inside one.
    * Two directory listings when nothing is pending. */
  def recover(root: String): Unit = synchronized {
    Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("staging")).foreach { st =>
        val names = Option(st.list()).getOrElse(Array.empty)
        if (names.contains(Marker)) settle(st)
        else names.filter(_.contains('=')).map(new File(st, _))
          .filter(p => new File(p, Marker).exists).foreach(settle)
      }
  }

  private def mark(st: File, target: File, aside: File, keep: Boolean): Unit = {
    val dir = st.getAbsoluteFile.getParentFile.toPath
    def rel(f: File) = dir.relativize(f.getAbsoluteFile.toPath)
    val tmp = new File(st, s"$Marker.tmp")
    Files.writeString(tmp.toPath, s"${rel(target)}\n${rel(aside)}\n$keep\n")
    move(tmp, new File(st, Marker))
  }

  /** Finish the swap `st`'s marker records, from wherever it stopped. */
  private def settle(st: File): Unit = {
    val Array(t, a, keep) = Files.readString(new File(st, Marker).toPath).split('\n')
    val dir = st.getAbsoluteFile.getParentFile.toPath
    val (target, aside) = (dir.resolve(t).normalize.toFile, dir.resolve(a).normalize.toFile)
    if (target.exists) { FileUtils.deleteQuietly(aside); move(target, aside) }
    promote(st, target)
    if (!keep.toBoolean) FileUtils.deleteQuietly(aside): Unit
  }

  private def promote(st: File, target: File): Unit = {
    target.getParentFile.mkdirs()
    move(st, target)
  }

  private def move(from: File, to: File): Unit =
    Files.move(from.toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
}
