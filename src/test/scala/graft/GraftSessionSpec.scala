package graft

import org.apache.spark.SparkConf
import org.apache.spark.io.{CompressionCodec, LZ4CompressionCodec}

/** Engine-wide settings the shared test session resolves. */
class GraftSessionSpec extends SparkSpec {

  test("the shuffle/spill codec resolves to lz4, Spark's own default") {
    // GraftSession leaves spark.io.compression.codec unset; local bench
    // continuity depends on the resolved codec staying lz4. Spark's
    // codec factory is package-private, so it is reached reflectively
    // and asked for the codec it builds from this session's conf.
    val factory = Class.forName("org.apache.spark.io.CompressionCodec$")
    val codec = factory.getMethod("createCodec", classOf[SparkConf])
      .invoke(factory.getField("MODULE$").get(null), spark.sparkContext.getConf)
      .asInstanceOf[CompressionCodec]
    assert(codec.isInstanceOf[LZ4CompressionCodec], codec.getClass.getName)
  }
}
