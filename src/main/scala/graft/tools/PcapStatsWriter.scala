package graft.tools

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.FileSource
import graft.sources.pcap.{PcapTable, PcapTsIndex}

/** ETL-side sidecar generator: writes an exact `.tsidx` (minTs maxTs)
  * next to every classic-pcap capture a path lists, enabling
  * file-level ts pruning in the `pcap` source without opening files at
  * query time. A path lists as `spark.read.format("pcap").load(path)`
  * does: a directory one level deep, a glob's matches, hidden names and
  * sidecars skipped. One sequential header-walk per capture (bodies
  * skipped; compressed files stream through their codec) — the kind of
  * pass a landing-zone ETL runs once per arriving file.
  *
  * Usage: PcapStatsWriter <dirFileOrGlob> [dirFileOrGlob...]
  */
object PcapStatsWriter {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PcapStatsWriter <dirFileOrGlob>...")
    val conf = new Configuration()
    args.foreach { a =>
      val files = PcapTable.listDataFiles(
        new CaseInsensitiveStringMap(java.util.Map.of("path", a)), conf)
      files.foreach { st =>
        val in = FileSource.open(conf, st.getPath.toString)
        val stats = try PcapTsIndex.scanMinMax(in) finally in.close()
        // non-classic containers (pcapng) have no fixed record chain for
        // the header walk — fall back to a full decode pass for the same
        // exact stats (slower, still one-time ETL work). The count
        // covers EVERY packet (also ones without a usable ts).
        val resolved = stats.orElse {
          val in2 = FileSource.open(conf, st.getPath.toString)
          try {
            var mn = Long.MaxValue
            var mx = Long.MinValue
            var n = 0L
            graft.pcap.PacketReaders
              .open(in2, graft.pcap.DecodeOptions(appDecoder = None))
              .foreach { p =>
                n += 1
                p.ts.foreach { t =>
                  if (t < mn) mn = t; if (t > mx) mx = t
                }
              }
            if (n == 0 || mn == Long.MaxValue) None
            else Some((mn, mx, n))
          } catch { case _: Exception => None } finally in2.close()
        }
        resolved match {
          case Some((mn, mx, n)) =>
            PcapTsIndex.writeSidecar(st.getPath.getFileSystem(conf),
              st.getPath, mn, mx, Some(n))
            println(s"${st.getPath}: ts [$mn, $mx], $n packets")
          case None =>
            println(s"${st.getPath}: no packet stats (skipped)")
        }
      }
    }
  }
}
