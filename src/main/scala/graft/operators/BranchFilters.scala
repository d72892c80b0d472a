package graft.operators

import org.tukaani.xz.{DeltaOptions, FilterOptions, X86Options}

/** The 7z BRANCH FILTERS — preprocessors that sit in front of an LZMA
  * coder in a 7z bind-pair folder — decoded by the tukaani xz
  * library's raw filter streams (the same filters xz block chains use).
  * Decoders only (this engine reads archives), over a whole buffered
  * coder output.
  */
object BranchFilters {

  private def decode(filter: FilterOptions, buf: Array[Byte]): Array[Byte] =
    filter.getInputStream(new java.io.ByteArrayInputStream(buf)).readAllBytes()

  /** x86 BCJ branch-converter DECODE (7z coder 0x03030103 — the
    * default companion of LZMA2 for executables in software-mirror
    * archives): the encoder rewrote E8/E9 call/jmp 32-bit relative
    * displacements into absolute targets; this converts them back.
    * Start ip 0.
    */
  def bcjX86Decode(buf: Array[Byte]): Array[Byte] = decode(new X86Options(), buf)

  /** Delta filter DECODE (7z coder 0x03): `out(i) += out(i - dist)`,
    * dist = props(0) + 1.
    */
  def deltaDecode(buf: Array[Byte], dist: Int): Array[Byte] = decode(new DeltaOptions(dist), buf)
}
