package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {

  import spark.implicits._

  test("zValue interleaves bits (x even positions, y odd)") {
    val df = Seq((3L, 1L), (0L, 0L), (1L, 0L), (0L, 1L), (255L, 0L), (0L, 255L))
      .toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zValue(col("x"), col("y")).as("z"))
    val z = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(z((0L, 0L)) == 0L)
    assert(z((1L, 0L)) == 1L)     // x bit 0 -> position 0
    assert(z((0L, 1L)) == 2L)     // y bit 0 -> position 1
    assert(z((3L, 1L)) == 7L)     // 1 + 4 (x bits) + 2 (y bit)
    // interleaving 8 set bits of one dim spreads over even/odd slots
    assert(z((255L, 0L)) == 0x5555L)
    assert(z((0L, 255L)) == 0xAAAAL)
  }

  test("zValueN interleaves three dimensions round-robin") {
    import spark.implicits._
    val df = Seq((5L, 3L, 6L)).toDF("x", "y", "w")
    val z = df.select(ZOrder.zValueN(Seq(col("x"), col("y"), col("w")), 3).as("z"))
      .head.getLong(0)
    // x=101, y=011, w=110 -> positions (3i,3i+1,3i+2):
    // i=0: x0=1,y0=1,w0=0 -> 011; i=1: x1=0,y1=1,w1=1 -> 110
    // i=2: x2=1,y2=0,w2=1 -> 101 => bits 101 110 011 (msb..lsb)
    val expected = java.lang.Long.parseLong("101110011", 2)
    assert(z == expected, s"got ${z.toBinaryString}")
  }
}
