package graft

import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Graft

/** Replay/savefile source (SURVEY §2.1 `pcap_savefile_replay` /
  * `pcap_savefile_delay`, CONFIG-KEYS:484-524): the engine's replay knob
  * is the file stream source's `maxFilesPerTrigger` — each trigger
  * ingests a bounded slice of the recorded data, giving pmacct's
  * paced-replay semantics under Structured Streaming. */
class ReplaySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  test("paced replay: maxFilesPerTrigger bounds each micro-batch") {
    Graft.withScratch("graft_replay") { scratch =>
      val dir = scratch.toString
      // three "capture files" of known sizes
      Seq(3, 5, 7).zipWithIndex.foreach { case (n, i) =>
        (0 until n).map(j => (i.toLong, j.toLong)).toDF("f", "v")
          .coalesce(1).write.parquet(s"$dir/part_$i")
      }
      val schema = spark.read.parquet(s"$dir/part_0").schema
      val batchSizes = scala.collection.mutable.Buffer[Long]()
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/part_*")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val c = b.count()
          if (c > 0) batchSizes.synchronized { batchSizes += c }
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // each replayed batch carried exactly one capture file
      assert(batchSizes.sorted == Seq(3L, 5L, 7L))
    }
  }

  test("pcap savefile ingests end-to-end via binaryFile scan") {
    import graft.sources.Pcap
    Graft.withScratch("graft_pcap") { scratch =>
      val dir = scratch.toString
      val tuples = (1 to 25).map(i => Pcap.FlowTuple(
        0x0A000000L + i, 0x0B000000L + i, if (i % 3 == 0) 17 else 6,
        1024 + i, 80, 100L + i, 1710000000000000L + i * 1000L))
      // two capture files on disk, exactly what a recorder would leave
      Files.write(java.nio.file.Paths.get(s"$dir/cap0.pcap"),
        Pcap.write(tuples.take(10).map(Pcap.frame)))
      Files.write(java.nio.file.Paths.get(s"$dir/cap1.pcap"),
        Pcap.write(tuples.drop(10).map(Pcap.frame)))
      val decoded = spark.read.format("binaryFile")
        .load(s"$dir/*.pcap")
        .select("content").as[Array[Byte]]
        .mapPartitions(_.flatMap { bytes =>
          val sf = Pcap.read(bytes)
          sf.packets.flatMap(p => Pcap.parse(p, sf.linkType))
        })
      val got = decoded.collect()
      assert(got.length == 25)
      assert(got.map(_.ipLen).sum == tuples.map(_.ipLen).sum)
      assert(got.count(_.proto == 17) == tuples.count(_.proto == 17))
      assert(got.map(_.portSrc).toSet == tuples.map(_.portSrc).toSet)
    }
  }

  test("live UDP source: NetFlow v9 datagrams arrive through the stream") {
    import graft.sources.{NetFlowV9, UdpDatagramSource}
    import NetFlowV9.IE
    // pick a free port, then hand it to the source
    val probe = new java.net.DatagramSocket(0)
    val port = probe.getLocalPort
    probe.close()
    val name = "udp_sink_test"
    val q = spark.readStream
      .format("graft.sources.UdpDatagramSource")
      .option("port", port.toString).load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      assert(UdpDatagramSource.awaitBound(port), "listener never bound")
      val t = NetFlowV9.Template(500,
        Seq(IE.Protocol -> 1, IE.InBytes -> 4))
      val h = NetFlowV9.V9Header(0L, 0L, 0L, 42L)
      val recs = (1 to 30).map(i =>
        Map(IE.Protocol -> 6L, IE.InBytes -> i.toLong))
      val dgs = Seq(NetFlowV9.encodeTemplate(h, t)) ++
        recs.grouped(10).map(b => NetFlowV9.encodeData(h, t, b))
      val sock = new java.net.DatagramSocket()
      val addr = java.net.InetAddress.getLoopbackAddress
      dgs.foreach { d =>
        sock.send(new java.net.DatagramPacket(d, d.length, addr, port))
        Thread.sleep(5)
      }
      sock.close()
      val deadline = System.currentTimeMillis() + 30000
      def landed() = spark.table(name).count()
      while (landed() < dgs.size && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(landed() == dgs.size)
      val rows = spark.table(name)
        .select("exporter", "payload").collect()
      assert(rows.forall(_.getString(0).startsWith(
        addr.getHostAddress + ":")))
      // template cache absorbs any arrival interleaving (buffering), so
      // decoding the landed payloads recovers every record exactly once
      val cache = new NetFlowV9.TemplateCache
      val decoded = rows.flatMap(r =>
        cache.observe(r.getAs[Array[Byte]]("payload")))
      assert(decoded.length == 30)
      assert(decoded.map(_(IE.InBytes)).sum == (1 to 30).sum)
    } finally q.stop()
  }

  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("streaming template state survives micro-batches (nfacctd shape)") {
    import graft.sources.NetFlowV9
    import graft.streaming.NetFlowStream
    import NetFlowV9.IE
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = NetFlowV9.Template(510, Seq(IE.Protocol -> 1, IE.InBytes -> 4))
    val h = NetFlowV9.V9Header(0L, 0L, 0L, 9L)
    def data(vals: Seq[Long]) = NetFlowV9.encodeData(h, t,
      vals.map(v => Map(IE.Protocol -> 6L, IE.InBytes -> v)))
    Graft.withConf(spark, RocksDb) {
      val mem = MemoryStream[NetFlowStream.Datagram](spark)
      val q = NetFlowStream.decodeTws(mem.toDS())
        .writeStream.format("memory").queryName("nf_stream")
        .outputMode("append").start()
      try {
        // batch 1: template + first data
        mem.addData(
          NetFlowStream.Datagram("ex1", NetFlowV9.encodeTemplate(h, t)),
          NetFlowStream.Datagram("ex1", data(Seq(10L, 20L))))
        q.processAllAvailable()
        // batch 2: DATA ONLY — decodes because the template persisted in
        // the state store across micro-batches
        mem.addData(NetFlowStream.Datagram("ex1", data(Seq(30L, 40L))))
        q.processAllAvailable()
        val vals = spark.table("nf_stream")
          .selectExpr(s"fields[${IE.InBytes}] as b")
          .as[Long].collect().sorted.toSeq
        assert(vals == Seq(10L, 20L, 30L, 40L))
      } finally q.stop()
    }
  }

  test("transformWithState template decode matches (RocksDB state)") {
    import graft.sources.NetFlowV9
    import graft.streaming.NetFlowStream
    import NetFlowV9.IE
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    Graft.withConf(spark, RocksDb) {
      val t = NetFlowV9.Template(511,
        Seq(IE.Protocol -> 1, IE.InBytes -> 4))
      val h = NetFlowV9.V9Header(0L, 0L, 0L, 9L)
      def data(vals: Seq[Long]) = NetFlowV9.encodeData(h, t,
        vals.map(v => Map(IE.Protocol -> 17L, IE.InBytes -> v)))
      // observation domain 10 behind the same exporter reuses template
      // id 511 with another layout; its data lands one micro-batch
      // before its template
      val tB = NetFlowV9.Template(511,
        Seq(IE.InBytes -> 8, IE.L4DstPort -> 2, IE.Protocol -> 1))
      val hB = NetFlowV9.V9Header(0L, 0L, 0L, 10L)
      val recsB = Seq(
        Map(IE.InBytes -> (3L << 33), IE.L4DstPort -> 53L, IE.Protocol -> 6L),
        Map(IE.InBytes -> 8L, IE.L4DstPort -> 80L, IE.Protocol -> 6L))
      val mem = MemoryStream[NetFlowStream.Datagram](spark)
      val q = NetFlowStream.decodeTws(mem.toDS())
        .writeStream.format("memory").queryName("nf_tws")
        .outputMode("append").start()
      try {
        mem.addData(
          NetFlowStream.Datagram("ex2", NetFlowV9.encodeTemplate(h, t)),
          NetFlowStream.Datagram("ex2", data(Seq(5L))),
          NetFlowStream.Datagram("ex2", NetFlowV9.encodeData(hB, tB, recsB)))
        q.processAllAvailable()
        mem.addData(NetFlowStream.Datagram("ex2", data(Seq(6L, 7L))),
          NetFlowStream.Datagram("ex2", NetFlowV9.encodeTemplate(hB, tB)))
        q.processAllAvailable()
        val vals = spark.table("nf_tws")
          .where(s"fields[${IE.Protocol}] = 17")
          .selectExpr(s"fields[${IE.InBytes}] as b")
          .as[Long].collect().sorted.toSeq
        assert(vals == Seq(5L, 6L, 7L))
        // every record decoded with its own domain's layout
        val fields = spark.table("nf_tws").as[NetFlowStream.Flow].collect()
          .map(_.fields)
        assert(fields.length == 3 + recsB.size)
        assert(fields.count(_.keySet == Set(IE.Protocol, IE.InBytes)) == 3)
        assert(recsB.forall(r => fields.count(_ == r) == 1))
      } finally q.stop()
    }
  }

  test("decodeTws restarts from snapshot + changelog state") {
    import graft.sources.NetFlowV9
    import graft.streaming.NetFlowStream
    import NetFlowStream.Datagram
    import NetFlowV9.IE
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = NetFlowV9.Template(512, Seq(IE.Protocol -> 1, IE.InBytes -> 4))
    val h = NetFlowV9.V9Header(0L, 0L, 0L, 11L)
    def data(vals: Long*) = NetFlowV9.encodeData(h, t,
      vals.map(v => Map(IE.Protocol -> 6L, IE.InBytes -> v)))
    // domain 12 sends its data set in the first run and its template
    // only after the restart
    val tB = NetFlowV9.Template(512, Seq(IE.InBytes -> 8, IE.Protocol -> 1))
    val hB = NetFlowV9.V9Header(0L, 0L, 0L, 12L)
    val dataB = NetFlowV9.encodeData(hB, tB,
      Seq(Map(IE.InBytes -> (5L << 33), IE.Protocol -> 17L)))
    Graft.withScratch("graft_tws_restart") { checkpoint =>
      Graft.withConf(spark, RocksDb) {
        val mem = MemoryStream[Datagram](spark)
        val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        def run(batches: Seq[Datagram]*): Unit = {
          val q = NetFlowStream.decodeTws(mem.toDS()).toDF().writeStream
            .option("checkpointLocation", checkpoint.toString)
            .foreachBatch { (df: DataFrame, _: Long) =>
              df.selectExpr(s"fields[${IE.InBytes}]").as[Long].collect()
                .foreach(got.add)
              ()
            }.start()
          try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
          finally { q.stop(); q.awaitTermination() }
        }
        run(Seq(Datagram("ex3", NetFlowV9.encodeTemplate(h, t)),
                Datagram("ex3", data(10L, 20L))),
            Seq(Datagram("ex3", dataB)),
            Seq(Datagram("ex3", data(25L))))
        assert(got.toArray.toSeq == Seq(10L, 20L, 25L))
        // the commits wrote changelog files: the state the restart reads is
        // the first snapshot plus the changelogs after it
        val stateFiles = Files.walk(checkpoint.resolve("state"))
        val changelogs =
          try stateFiles.filter(_.toString.endsWith(".changelog")).count()
          finally stateFiles.close()
        assert(changelogs > 0)
        got.clear()
        run(Seq(Datagram("ex3", data(30L, 40L))),
            Seq(Datagram("ex3", NetFlowV9.encodeTemplate(hB, tB))))
        assert(got.toArray.toSeq == Seq(30L, 40L, 5L << 33))
      }
    }
  }

  test("engine session: NIO local filesystem, rename-based checkpoints") {
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
    val conf = spark.sessionState.newHadoopConf()
    val root = new java.net.URI("file:///")
    val fs = FileSystem.get(root, conf)
    assert(fs.getClass == classOf[graft.core.NioLocalFileSystem])
    // Hadoop's own local filesystem, which forks chmod, is the reference
    val stock = new LocalFileSystem()
    stock.initialize(root, conf)
    Graft.withScratch("graft_fs") { dir =>
      def mode(p: String): Int = Files.getAttribute(dir.resolve(p),
        "unix:mode").asInstanceOf[Int] & 0xfff
      Seq(fs -> "nio", stock -> "hadoop").foreach { case (f, name) =>
        assert(f.mkdirs(new Path(s"$dir/$name/d")))
        f.create(new Path(s"$dir/$name/d/f")).close()
      }
      // fs.permissions.umask-mode defaults to 022
      assert(mode("nio/d") == mode("hadoop/d") && mode("nio/d") == 0x1ed)
      assert(mode("nio/d/f") == mode("hadoop/d/f") && mode("nio/d/f") == 0x1a4)
      // the sticky bit, which NIO cannot set, still applies
      fs.setPermission(new Path(s"$dir/nio/d"), new FsPermission(0x3ff.toShort))
      assert(mode("nio/d") == 0x3ff)
      assert(CheckpointFileManager.create(new Path(dir.toString), conf)
        .isInstanceOf[FileSystemBasedCheckpointFileManager])
    }
  }

  test("pcap reader handles little-endian and nanosecond magics") {
    import graft.sources.Pcap
    val pkt = Pcap.frame(Pcap.FlowTuple(1L, 2L, 6, 1, 2, 40L, 5000001L))
    val be = Pcap.write(Seq(pkt))
    // flip to little-endian by rewriting header+record words
    val buf = java.nio.ByteBuffer.wrap(be)
    val le = java.nio.ByteBuffer.allocate(be.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    le.putInt(buf.getInt(0)) // magic, now byte-swapped on disk
    le.putShort(2).putShort(4).putInt(0).putInt(0)
    le.putInt(65535).putInt(Pcap.LinkEthernet)
    le.putInt(buf.getInt(24)).putInt(buf.getInt(28))
    le.putInt(buf.getInt(32)).putInt(buf.getInt(36))
    le.put(pkt.data)
    assert(Pcap.read(le.array()).packets == Seq(pkt))
    // nanosecond magic: fractional part is ns, floored to µs
    val ns = Pcap.write(Seq(pkt))
    val nsBuf = java.nio.ByteBuffer.wrap(ns)
    nsBuf.putInt(0, Pcap.MagicNanos.toInt)
    nsBuf.putInt(28, 1999) // 1999 ns -> 1 µs
    val got = Pcap.read(ns).packets.head
    assert(got.tsUs == 5000001L)
  }
}
