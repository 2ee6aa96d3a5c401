package graft.tools

import graft.fixtures.MediaFixtures.mpegStripFrame

/** Single-threaded codec micro-bench (no Spark): per-clip encode /
  * decode cost of the MPEG-1 video wire on the q250-family strip
  * corpus — the number that bounds how much a synth-heavy video
  * query can cost per task slot. Run:
  * `sbt "runMain graft.tools.CodecBench"`.
  */
object CodecBench {
  def main(args: Array[String]): Unit = {
    val frames = (0 until 8).map(f => mpegStripFrame(97L + f * 31))
    (0 until 50).foreach { _ =>
      graft.ext.Mpeg1Video.decode(
        graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3))
    }
    var t0 = System.nanoTime(); var n = 0
    while (n < 200) {
      graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3); n += 1
    }
    val encMs = (System.nanoTime() - t0) / 1e6 / 200
    val wire = graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3)
    t0 = System.nanoTime(); n = 0
    while (n < 200) { graft.ext.Mpeg1Video.decode(wire); n += 1 }
    val decMs = (System.nanoTime() - t0) / 1e6 / 200
    val ipp = graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
      gopSize = 3, searchRange = 1)
    t0 = System.nanoTime(); n = 0
    while (n < 200) {
      graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
        gopSize = 3, searchRange = 1); n += 1
    }
    val encPMs = (System.nanoTime() - t0) / 1e6 / 200
    t0 = System.nanoTime(); n = 0
    while (n < 200) { graft.ext.Mpeg1Video.decode(ipp); n += 1 }
    val decPMs = (System.nanoTime() - t0) / 1e6 / 200
    println(f"CODECBENCH allI enc $encMs%.3f ms dec $decMs%.3f ms wire ${wire.length}%d | " +
      f"ipp enc $encPMs%.3f ms dec $decPMs%.3f ms wire ${ipp.length}%d")
  }
}
