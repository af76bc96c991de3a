package graft.bench

import org.scalatest.funsuite.AnyFunSuite

/** The sweep's plot sink: a 1024×500 PNG, as the reference renders
  * (`src/lib.rs:97-160`).
  */
class ChartSinkSpec extends AnyFunSuite {

  private val pts = for {
    size <- Seq(250, 5000, 50000, 100000)
    (strat, base) <- Seq("dyn-comparator" -> 30.0, "rows-format" -> 55.0)
  } yield DataPoint("mixed-tuple", size, strat, 50,
    base + size / 1000.0, base + size / 1000.0 - 2.0)

  test("PngChart renders a 1024x500 PNG with both series") {
    val bytes = PngChart.render(pts)
    // PNG magic: 89 50 4E 47 0D 0A 1A 0A
    assert(bytes.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a), "not a PNG stream")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == 1024 && img.getHeight == 500,
      s"reference chart geometry is 1024x500, got ${img.getWidth}x${img.getHeight}")
    // both series must actually be drawn: find red-ish and blue-ish pixels
    val rgbs = for (x <- 0 until img.getWidth by 2; y <- 0 until img.getHeight by 2)
      yield img.getRGB(x, y)
    def has(c: Int): Boolean = rgbs.contains(c)
    assert(has(new java.awt.Color(0xcc, 0x22, 0x22).getRGB), "red series missing")
    assert(has(new java.awt.Color(0x22, 0x22, 0xcc).getRGB), "blue series missing")
  }

  test("PngChart tolerates an empty point set") {
    val bytes = PngChart.render(Seq.empty)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == 1024 && img.getHeight == 500)
  }
}
