package perfbench

import graft.gen.{ChangeGen, GenConfig}

import scala.collection.mutable

/** One row of table state as the check compares it: the winning event's
  * lsn, commit, lang, event time (ms), and sha256 and length of its
  * content. */
final case class StateRow(lsn: Long, commit: String, lang: String, tsMs: Long,
                          contentSha: String, contentLen: Int)

/** The expected table state, folded from the generator's events without
  * any engine code: dedup by lsn, last writer (highest lsn) wins per
  * (repo, path), a delete leaves a tombstone that still orders later
  * arrivals. Epoch 0 is the first applied batch set; the history keeps,
  * per key, each epoch's winner, so the state after any epoch and the
  * keys each epoch changed can both be asked for. */
final class Fold(val cfg: GenConfig) {
  type Key = (String, String)
  // per key, newest first: (epoch, lsn << 1 | deleted)
  private val hist = mutable.HashMap.empty[Key, List[(Int, Long)]]
  private var lastEpoch = -1

  def applyIds(lo: Long, hi: Long, epoch: Int): Unit = {
    require(epoch >= lastEpoch, s"epochs must be folded in order ($epoch after $lastEpoch)")
    lastEpoch = epoch
    var id = lo
    while (id < hi) {
      ChangeGen.emittedFor(cfg, id).foreach(e => applyEvent((e.repo, e.path), e.lsn, e.op == "D", epoch))
      id += 1
    }
  }

  private def applyEvent(k: Key, lsn: Long, deleted: Boolean, epoch: Int): Unit = {
    val h = hist.getOrElse(k, Nil)
    val wins = h match {
      case (_, v) :: _ => lsn > (v >>> 1)
      case Nil => true
    }
    if (wins) {
      val packed = (lsn << 1) | (if (deleted) 1L else 0L)
      hist(k) = h match {
        case (ep, _) :: rest if ep == epoch => (epoch, packed) :: rest
        case _ => (epoch, packed) :: h
      }
    }
  }

  /** Winning live lsn of `k` after `epoch`, None if absent or deleted. */
  def lsnAt(k: Key, epoch: Int): Option[Long] =
    hist.get(k).flatMap(_.find(_._1 <= epoch)).collect { case (_, v) if (v & 1L) == 0L => v >>> 1 }

  def liveAt(epoch: Int): Iterator[(Key, Long)] =
    hist.iterator.flatMap { case (k, _) => lsnAt(k, epoch).map(k -> _) }

  /** Keys whose winner changed in `epoch` and is live afterwards. */
  def changedLive(epoch: Int): Iterator[Key] =
    hist.iterator.collect { case (k, h) if h.exists(x => x._1 == epoch && (x._2 & 1L) == 0L) => k }

  def row(lsn: Long): StateRow = {
    val e = ChangeGen.eventOf(cfg, lsn)
    StateRow(lsn, e.commit, e.lang, e.ts.getTime, ChangeGen.sha256Hex(e.content), e.content.length)
  }

  def expected(epoch: Int): Map[Key, StateRow] = liveAt(epoch).map { case (k, l) => k -> row(l) }.toMap
}

object Fold {
  /** Compare the engine's rows with the expected state. Returns the
    * number of mismatching keys (missing, extra or different) and up to
    * three examples. */
  def diff(expected: Map[(String, String), StateRow],
           actual: Seq[((String, String), StateRow)]): (Long, Seq[String]) = {
    val seen = mutable.HashSet.empty[(String, String)]
    var bad = 0L
    val ex = mutable.ArrayBuffer.empty[String]
    def note(s: String): Unit = { bad += 1; if (ex.size < 3) ex += s }
    actual.foreach { case (k, r) =>
      if (!seen.add(k)) note(s"duplicate key $k")
      else expected.get(k) match {
        case None => note(s"unexpected key $k lsn=${r.lsn}")
        case Some(e) if e != r => note(s"key $k: expected $e, got $r")
        case _ => ()
      }
    }
    expected.keysIterator.foreach(k => if (!seen.contains(k)) note(s"missing key $k"))
    (bad, ex.toSeq)
  }

  /** Order-independent sha256 of a state, for comparing runs bit for bit. */
  def digest(rows: Seq[((String, String), StateRow)]): String = {
    val lines = rows.map { case ((r, p), s) => s"$r\t$p\t${s.lsn}\t${s.commit}\t${s.lang}\t${s.tsMs}\t${s.contentSha}" }.sorted
    ChangeGen.sha256Hex(lines.mkString("\n"))
  }
}
