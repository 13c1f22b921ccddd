package graftbench

/** Independent serial replay of one Aria batch, written from the
  * protocol's rules rather than from the engine's dataflow: per epoch,
  * every key keeps the smallest tid that read it (rts) and wrote it
  * (wts); a txn has RAW if a smaller tid wrote a key it touches, WAR if
  * a smaller tid read a key it writes, WAW if a smaller tid wrote a key
  * it writes. Without reordering RAW or WAW aborts; with reordering WAW,
  * or RAW together with WAR. Committed writes install (the last op of
  * the single committed writer wins per key), aborted txns keep their
  * ops and are renumbered 1..m in tid order for the next epoch.
  *
  * The result is the per-epoch (epoch, txns, committed, aborted) list
  * and, per written key, the (epoch, tid, opIdx) of the op whose
  * payload the final table holds. */
object AriaReplay {
  final case class Op(tid: Int, opIdx: Int, key: Int, isUpdate: Boolean)
  final case class Write(key: Int, epoch: Int, tid: Int, opIdx: Int)
  final case class Result(stats: Seq[Seq[Long]], writes: Seq[Write])

  def run(nTxns: Int, ops0: Seq[Op], reorder: Boolean, maxEpochs: Int): Result = {
    val stats = Seq.newBuilder[Seq[Long]]
    val last = scala.collection.mutable.HashMap.empty[Int, Write]
    var ops = ops0
    var txns = nTxns.toLong
    var epoch = 0
    while (txns > 0 && epoch < maxEpochs) {
      val rts = scala.collection.mutable.HashMap.empty[Int, Int]
      val wts = scala.collection.mutable.HashMap.empty[Int, Int]
      for (o <- ops) {
        rts(o.key) = math.min(rts.getOrElse(o.key, Int.MaxValue), o.tid)
        if (o.isUpdate) wts(o.key) = math.min(wts.getOrElse(o.key, Int.MaxValue), o.tid)
      }
      def wroteBefore(o: Op) = wts.get(o.key).exists(_ < o.tid)
      val aborted = ops.groupBy(_.tid).collect { case (tid, mine) =>
        val raw = mine.exists(wroteBefore)
        val war = mine.exists(o => o.isUpdate && rts(o.key) < o.tid)
        val waw = mine.exists(o => o.isUpdate && wroteBefore(o))
        val abort = if (reorder) waw || (raw && war) else raw || waw
        tid -> abort
      }.filter(_._2).keys.toVector.sorted
      val abortedSet = aborted.toSet
      ops.filter(o => o.isUpdate && !abortedSet(o.tid)).groupBy(_.key).foreach {
        case (key, writes) =>
          require(writes.map(_.tid).distinct.size == 1,
            s"two committed writers of key $key in epoch $epoch")
          val w = writes.maxBy(_.opIdx)
          last(key) = Write(key, epoch, w.tid, w.opIdx)
      }
      stats += Seq(epoch.toLong, txns, txns - aborted.size, aborted.size.toLong)
      val renumber = aborted.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
      ops = ops.filter(o => abortedSet(o.tid)).map(o => o.copy(tid = renumber(o.tid)))
      txns = aborted.size.toLong
      epoch += 1
    }
    Result(stats.result(), last.values.toSeq.sortBy(_.key))
  }
}
