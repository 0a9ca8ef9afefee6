package graft.sources

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import org.scalatest.funsuite.AnyFunSuite

/** Batch planning of the live UDP source: one socket, many workers
  * (the reference's collector model, `src/nfacctd.c:1525`,
  * `docs/INTERNALS:86-190`). A multi-datagram batch must fan out across
  * multiple InputPartitions — keyed by exporter so template state stays
  * co-located — and a post-restart offset outside the driver buffer must
  * fail fast instead of silently serving an empty slice. */
class UdpPartitionSpec extends AnyFunSuite {

  private def sendFrom(socks: Seq[DatagramSocket], port: Int,
                       perSock: Int): Unit = {
    val addr = InetAddress.getLoopbackAddress
    for (s <- socks; i <- 0 until perSock) {
      val d = Array.fill[Byte](8 + i)(i.toByte)
      s.send(new DatagramPacket(d, d.length, addr, port))
    }
  }

  private def awaitCount(st: UdpMicroBatchStream, n: Long): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    while (st.latestOffset().asInstanceOf[UdpShardOffset].total < n &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  test("multi-datagram batch plans >1 partition, exporters co-located") {
    val st = new UdpMicroBatchStream(0, 1 << 16, numPartitions = 4)
    try {
      val port = st.boundPort
      assert(UdpDatagramSource.awaitBound(port))
      // 6 distinct exporters (distinct source sockets), 5 datagrams each
      val socks = Seq.fill(6)(new DatagramSocket())
      sendFrom(socks, port, 5)
      socks.foreach(_.close())
      awaitCount(st, 30)
      val end = st.latestOffset()
      assert(end.asInstanceOf[UdpShardOffset].total == 30)
      val parts = st.planInputPartitions(UdpShardOffset(Vector(0L)), end)
        .map(_.asInstanceOf[UdpPartition])
      assert(parts.length > 1, "batch must fan out across partitions")
      assert(parts.map(_.rows.length).sum == 30)
      // each exporter's datagrams land in exactly one partition
      val homes = parts.zipWithIndex.flatMap { case (p, i) =>
        p.rows.map(_._1 -> i)
      }.groupBy(_._1).values
      assert(homes.forall(_.map(_._2).distinct.length == 1))
    } finally st.stop()
  }

  test("sharded reuseport group: every datagram delivered exactly once") {
    // pmacct's SO_REUSEPORT balancer (src/ebpf/ebpf_rp_balancer.c):
    // 4 sockets on ONE port; kernel hash-balances by source 4-tuple
    val st = new UdpMicroBatchStream(0, 1 << 16, numPartitions = 8,
      shards = 4)
    try {
      assert(st.shardPorts.length == 4)
      assert(st.shardPorts.distinct == Seq(st.boundPort),
        "all shards must share the one listener port")
      assert(UdpDatagramSource.awaitBound(st.boundPort))
      val socks = Seq.fill(8)(new DatagramSocket())
      sendFrom(socks, st.boundPort, 5)
      socks.foreach(_.close())
      val deadline = System.currentTimeMillis() + 15000
      def total() = st.latestOffset().asInstanceOf[UdpShardOffset].total
      while (total() < 40 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val end = st.latestOffset().asInstanceOf[UdpShardOffset]
      assert(end.total == 40, s"lost datagrams: $end")
      // offsets round-trip through their json form (checkpoint format)
      assert(st.deserializeOffset(end.json()) == end)
      val parts = st.planInputPartitions(st.initialOffset(), end)
        .map(_.asInstanceOf[UdpPartition])
      assert(parts.map(_.rows.length).sum == 40)
      // exporter co-location survives sharding: the kernel pins each
      // source socket to one shard, planning groups by exporter hash
      val homes = parts.zipWithIndex.flatMap { case (p, i) =>
        p.rows.map(_._1 -> i)
      }.groupBy(_._1).values
      assert(homes.forall(_.map(_._2).distinct.length == 1))
      // commit trims every shard's buffer
      st.commit(end)
      assert(st.latestOffset() == end)
      assert(st.planInputPartitions(end, end).isEmpty)
    } finally st.stop()
  }

  test("sharded offsets reject a single-count checkpoint (shape change)") {
    val st = new UdpMicroBatchStream(0, 1 << 16, numPartitions = 8,
      shards = 2)
    try {
      // a checkpoint written by a 1-socket incarnation cannot be
      // reinterpreted against a sharded group — fail fast, not guess
      intercept[IllegalArgumentException] {
        st.planInputPartitions(UdpShardOffset(Vector(0L)),
          st.latestOffset())
      }
      // and a count-vector of the wrong width is equally fatal
      intercept[IllegalArgumentException] {
        st.planInputPartitions(UdpShardOffset(Vector(0L, 0L, 0L)),
          st.latestOffset())
      }
    } finally st.stop()
  }

  test("offset outside the driver buffer fails fast (not recoverable)") {
    val st = new UdpMicroBatchStream(0, 1 << 16, numPartitions = 4)
    try {
      // a checkpoint from a previous incarnation would resume past the
      // fresh stream's empty buffer — that must throw, not return []
      intercept[IllegalStateException] {
        st.planInputPartitions(UdpShardOffset(Vector(10L)),
          UdpShardOffset(Vector(20L)))
      }
      // and the empty [0,0) slice of a fresh stream is legitimately empty
      assert(st.planInputPartitions(UdpShardOffset(Vector(0L)),
        UdpShardOffset(Vector(0L))).isEmpty)
    } finally st.stop()
  }
}
