package graft.tree

import java.nio.{ByteBuffer, ByteOrder}

/** One histogram pass's sums for the `nodes` it builds: per node slot the
  * (G, H) totals at `totals(2·slot)`/`totals(2·slot + 1)` and a
  * (g, h)-interleaved histogram of `histLen` doubles, null while no row
  * has reached the node.
  *
  * A task ships its partials as one packed little-endian `byte[]`: per
  * slot a presence flag (1.0 / 0.0) and, when present, the two totals and
  * the histogram, written and read with bulk `DoubleBuffer` copies — one
  * array copy instead of Java serialization walking an
  * `Array[Array[Double]]` element by element. */
private[tree] final class NodePartials(nodes: Int, histLen: Int) {
  val totals = new Array[Double](2 * nodes)
  val hists = new Array[Array[Double]](nodes)

  /** The histogram of `slot`, allocated on first use. */
  def hist(slot: Int): Array[Double] = {
    if (hists(slot) == null) hists(slot) = new Array[Double](histLen)
    hists(slot)
  }

  def pack(): Array[Byte] = {
    val present = hists.count(_ != null)
    val buf = ByteBuffer.allocate(8 * (nodes + present * (2 + histLen))).order(ByteOrder.LITTLE_ENDIAN)
    val out = buf.asDoubleBuffer()
    var s = 0
    while (s < nodes) {
      if (hists(s) == null) out.put(0.0)
      else out.put(1.0).put(totals(2 * s)).put(totals(2 * s + 1)).put(hists(s))
      s += 1
    }
    buf.array()
  }

  /** Adds a packed block into these sums. A node's first block is copied,
    * so merging a single block reproduces its sums bit for bit. */
  def add(block: Array[Byte]): this.type = {
    val in = ByteBuffer.wrap(block).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer()
    var scratch: Array[Double] = null
    var s = 0
    while (s < nodes) {
      if (in.get() != 0.0) {
        val g = in.get(); val h = in.get()
        if (hists(s) == null) {
          totals(2 * s) = g; totals(2 * s + 1) = h
          in.get(hist(s))
        } else {
          totals(2 * s) += g; totals(2 * s + 1) += h
          if (scratch == null) scratch = new Array[Double](histLen)
          in.get(scratch)
          val acc = hists(s)
          var i = 0
          while (i < histLen) { acc(i) += scratch(i); i += 1 }
        }
      }
      s += 1
    }
    this
  }
}
