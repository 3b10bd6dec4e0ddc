package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

/**
 * A journaled swap of staged directories into place, shared by
 * [[Merge.mergeInto]] (one entry per rewritten or emptied partition)
 * and [[IncrementalAgg.maintain]] (one entry: the whole table).
 *
 * The journal file lists the entries, one a line: `+name` renames
 * `staged(name)` over `live(name)`, `-name` moves `live(name)` out. A
 * live dir is moved aside to `aside/name`, never deleted, until the
 * swap is decided, so a failure at any step leaves a state that one of
 * two recoveries can settle:
 *  - [[rollForward]] finishes the swap. A merge is idempotent, so once
 *    its journal is written the swap is as good as done.
 *  - [[rollBack]] undoes it. A change set applied twice counts twice,
 *    so a maintain that threw must have applied nothing; deleting the
 *    journal is its commit point.
 */
private[operators] final case class DirSwap(store: LogStore, journal: String,
                                             aside: String, scratch: String,
                                             staged: String => String,
                                             live: String => String) {

  private def journaled: Seq[(Boolean, String)] =
    if (!store.exists(journal)) Nil
    else new String(store.read(journal), UTF_8).split("\n").toSeq
      .filter(_.nonEmpty).map(e => (e.head == '+', e.tail))

  /** Journal `entries` (true: rename the staged dir in, false: move the
    * live dir out), then make the moves. */
  def journalAndMove(entries: Seq[(Boolean, String)]): Unit = {
    store.putReplace(journal, entries
      .map { case (in, name) => (if (in) "+" else "-") + name }
      .mkString("\n").getBytes(UTF_8))
    move(entries)
  }

  /** Make each move not yet made: a `+` whose staged dir is gone was
    * renamed in already. */
  private def move(entries: Seq[(Boolean, String)]): Unit = {
    store.mkdirs(aside)
    entries.foreach { case (in, name) =>
      if (!in || store.exists(staged(name))) {
        if (store.exists(live(name))) store.rename(live(name), s"$aside/$name")
        if (in) store.rename(staged(name), live(name))
      }
    }
  }

  /** Finish the journaled swap, if there is one, then drop the aside
    * and scratch dirs; the journal goes last. */
  def rollForward(): Unit =
    if (store.exists(journal)) { move(journaled); clear() }

  /** Undo the journaled swap, if there is one: every dir moved aside goes
    * back in place, over whatever was renamed in (so each `+` entry must
    * replace a live dir, as a maintained table does). Then drop the aside
    * and scratch dirs and the journal — also the leftovers of a swap
    * that committed, or of a staging write that never got journaled. */
  def rollBack(): Unit = {
    journaled.foreach { case (_, name) =>
      val old = s"$aside/$name"
      if (store.exists(old)) {
        store.deleteTree(live(name))
        store.rename(old, live(name))
      }
    }
    clear()
  }

  /** Drop the aside and scratch dirs, then the journal. */
  def clear(): Unit = {
    store.deleteTree(aside)
    store.deleteTree(scratch)
    store.delete(journal)
  }
}
