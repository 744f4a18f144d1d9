package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** In-memory stand-in for the sharded stream service (no AWS egress in
  * this environment — SURVEY §7.4). One JVM-global registry of streams;
  * under local[*] executors share the JVM so `foreachPartition` tasks
  * write here directly. In production this object is replaced by the
  * real service client inside the same ForeachWriter/foreachBatch hooks.
  *
  * Semantics mirrored from the reference producer/consumer:
  * - every shard is an independent append log with its OWN monotonically
  *   increasing sequence number starting at 0 — the true shape of
  *   Kinesis sequence numbers and of readstream.py:30-33's per-shard
  *   iterator tokens (one cursor per shard, never a global one)
  * - a put can be made to fail transiently via `failNextPuts` to
  *   exercise the retry budget (logspoutkinesis.go:147-153)
  * - a bounded per-stream capacity models the producer buffer
  *   (go :123-129): when full, `put` either refuses (caller drops — the
  *   reference's default) or the caller blocks until a consumer drains,
  *   per `add_blocks_when_buffer_full` (go :115-121, S13). Draining is
  *   explicit: consumers `ack(n)` records they have durably consumed
  *   (the DSv2 micro-batch stream acks on offset commit), which frees
  *   buffer space and unblocks waiting producers.
  */
object InMemoryKinesis {

  /** `seq` is the record's PER-SHARD sequence number (0-based). */
  final case class Record(seq: Long, partitionKey: String, data: String)

  final class Stream(val numShards: Int, val capacity: Int) {
    val shards: Vector[java.util.Queue[Record]] =
      Vector.fill(numShards)(new java.util.concurrent.ConcurrentLinkedQueue[Record]())
    /** Next sequence number per shard == count of records already in
      * the shard's queue (advanced only after the append). */
    val shardSeqs: Vector[AtomicLong] = Vector.fill(numShards)(new AtomicLong(0L))
    /** Un-acked backlog across all shards (the producer-buffer model). */
    val size = new AtomicInteger(0)
    /** Block-mode producers park on this condition until `ack` signals —
      * a real bounded-queue wait (thread state WAITING), not a spin. */
    val lock = new java.util.concurrent.locks.ReentrantLock()
    val notFull: java.util.concurrent.locks.Condition = lock.newCondition()
    /** (batchId, partitionId) delivery units already fully put — the
      * idempotent-sink ledger (a real Kinesis producer would keep this
      * in the checkpoint store or a dedup table; the in-memory service
      * models it next to the shards it guards). */
    val committedUnits: java.util.Set[(Long, Int)] =
      ConcurrentHashMap.newKeySet[(Long, Int)]()
    // failure injection + stats (tests / mute-unmute logging)
    val failNextPuts = new AtomicInteger(0)
    val putAttempts = new AtomicLong(0L)
    val delivered = new AtomicLong(0L)
    val dropped = new AtomicLong(0L)
    val errorLogLines = new AtomicLong(0L)
  }

  private val streams = new ConcurrentHashMap[String, Stream]()

  def create(name: String, numShards: Int, capacity: Int = 10000): Stream = {
    val s = new Stream(numShards, capacity)
    streams.put(name, s)
    s
  }

  def get(name: String): Stream =
    Option(streams.get(name)).getOrElse(
      throw new IllegalStateException(s"stream $name does not exist"))

  def delete(name: String): Unit = streams.remove(name)

  /** One put attempt of one record to one shard. Admission, sequence
    * assignment, the append and the publish of the new shard count all
    * happen under the stream's lock, so a count `shardCounts` returns
    * only covers records already in their queue (a consumer never plans
    * a record it cannot read), and queue order == sequence order for any
    * number of writers per shard. Returns false on an
    * injected transient failure (caller retries) or when the stream is
    * at capacity and blocking is disabled (caller drops). With blocking
    * enabled the caller parks until `ack` frees space (S13 block mode,
    * go :115-121). */
  def tryPut(name: String, shard: Int, partitionKey: String,
             data: String, block: Boolean): Boolean = {
    val s = get(name)
    s.putAttempts.incrementAndGet()
    if (s.failNextPuts.getAndUpdate(n => math.max(0, n - 1)) > 0) return false
    val sh = shard % s.numShards
    // blocked producers await the ack signal (no busy-wait — the thread
    // parks in WAITING state)
    s.lock.lock()
    try {
      if (s.size.get() >= s.capacity) {
        if (!block) return false
        while (s.size.get() >= s.capacity) s.notFull.await()
      }
      s.size.incrementAndGet()
      // append first, then publish the count (see the doc above)
      val seq = s.shardSeqs(sh).get()
      s.shards(sh).add(Record(seq, partitionKey, data))
      s.shardSeqs(sh).set(seq + 1L)
    } finally s.lock.unlock()
    s.delivered.incrementAndGet()
    true
  }

  /** Record that one (batchId, partitionId) delivery unit has been put
    * in full — consulted by the idempotent producer mode before
    * re-putting a replayed micro-batch. */
  def markUnit(name: String, batchId: Long, partitionId: Int): Unit =
    get(name).committedUnits.add((batchId, partitionId))

  /** Whether a (batchId, partitionId) delivery unit already completed. */
  def unitDone(name: String, batchId: Long, partitionId: Int): Boolean =
    get(name).committedUnits.contains((batchId, partitionId))

  /** Consumer acknowledgement: `n` records have been durably consumed —
    * frees buffer capacity and signals producers parked in block mode.
    * The DSv2 stream calls this from `commit(offset)`. */
  def ack(name: String, n: Long): Unit = {
    val s = get(name)
    s.lock.lock()
    try {
      s.size.getAndUpdate(v => math.max(0, v - math.min(n, Int.MaxValue).toInt))
      s.notFull.signalAll()
    } finally s.lock.unlock()
  }

  /** Current record count (== next sequence number) per shard — the
    * per-shard high-water marks the streaming source admits against. */
  def shardCounts(name: String): Vector[Long] =
    get(name).shardSeqs.map(_.get())
}
