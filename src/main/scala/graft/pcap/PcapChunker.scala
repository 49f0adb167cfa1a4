package graft.pcap

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Packet-aligned re-chunking of capture files.
  *
  * pcap is not byte-range splittable, so a single huge capture is a single
  * task (the reference accepts the same limit, PcapInputFormat.java:66-75;
  * SURVEY.md §7.4 "whole-file scan skew"). This utility rewrites a capture
  * into N smaller files — each a fully valid pcap with a copy of the
  * original global header — after which every read of the directory
  * parallelizes across the cluster. One sequential pass per source file
  * (the unavoidable cost), any Hadoop filesystem on either side.
  */
object PcapChunker {

  /** Split `src` into ~`chunkBytes` packet-aligned chunks under `destDir`.
    * Returns the chunk paths. */
  def chunk(conf: Configuration, src: String, destDir: String,
      chunkBytes: Long): Seq[String] = {
    val srcPath = new Path(src)
    val destPath = new Path(destDir)
    val destFs = destPath.getFileSystem(conf)
    destFs.mkdirs(destPath)
    val in = new DataInputStream(
      graft.sources.FileSource.open(conf, src))
    try {
      val globalHeader = new Array[Byte](PcapStreamReader.GlobalHeaderSize)
      try in.readFully(globalHeader)
      catch { case _: EOFException => return Seq.empty } // empty file
      // chunks inherit the source's container variant verbatim (the
      // global header is copied), so only capLen needs endian awareness
      val magic = PcapStreamReader.leU32(globalHeader, 0)
      val bigEndian = magic match {
        case PcapStreamReader.Magic | PcapStreamReader.MagicNano => false
        case PcapStreamReader.MagicBe | PcapStreamReader.MagicBeNano => true
        case _ =>
          throw new IOException("Not a PCAP file (Couldn't find magic number)")
      }
      def capLenOf(hdr: Array[Byte]): Int =
        if (bigEndian)
          (((hdr(8) & 0xFF) << 24) | ((hdr(9) & 0xFF) << 16) |
           ((hdr(10) & 0xFF) << 8) | (hdr(11) & 0xFF))
        else PcapStreamReader.leU32(hdr, 8).toInt

      val base = srcPath.getName.stripSuffix(".pcap").stripSuffix(".gz")
        .stripSuffix(".pcap")
      var chunkIdx = 0
      var written = 0L
      var out: BufferedOutputStream = null
      val paths = scala.collection.mutable.ArrayBuffer.empty[String]

      def roll(): Unit = {
        if (out != null) out.close()
        val p = new Path(destPath, f"$base-chunk$chunkIdx%05d.pcap")
        paths += p.toString
        out = new BufferedOutputStream(destFs.create(p, true), 1 << 20)
        out.write(globalHeader)
        written = PcapStreamReader.GlobalHeaderSize.toLong
        chunkIdx += 1
      }
      roll()

      val hdr = new Array[Byte](PcapStreamReader.PacketHeaderSize)
      var eof = false
      while (!eof) {
        try in.readFully(hdr)
        catch { case _: EOFException => eof = true }
        if (!eof) {
          val capLen = capLenOf(hdr)
          val body = new Array[Byte](capLen)
          val truncated =
            try { in.readFully(body); false }
            catch { case _: EOFException => eof = true; true }
          if (written > PcapStreamReader.GlobalHeaderSize &&
              written + 16 + capLen > chunkBytes)
            roll()
          out.write(hdr)
          if (!truncated) out.write(body)
          written += 16 + capLen
        }
      }
      out.close()
      paths.toSeq
    } finally in.close()
  }
}
