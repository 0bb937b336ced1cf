package graft

import graft.functions.ArrayOps
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Kernel
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Every `ArrayOps` kernel over seeded inputs: the generated code of a
  * whole-stage projection and interpreted `eval` over `InternalRow`s
  * (of a serialized copy of the expression) give the same values, and a
  * null argument gives null on both. */
class KernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Kernel column `wrapper` (an `ArrayOps` method) over arguments of
    * types `inputs`, with a generator of one row of arguments. */
  private case class Case(label: String, wrapper: String, inputs: Seq[DataType],
      kernel: Seq[Column] => Column, gen: Random => Seq[Any])

  private val longs = ArrayType(LongType)
  private val strings = ArrayType(StringType)

  private def longArray(r: Random, n: Int, bound: Int): Seq[Long] =
    Seq.fill(n)(r.nextInt(bound).toLong)
  private def words(r: Random, n: Int): Seq[String] =
    Seq.fill(n)(Seq("a", "b", "c", "dd", "é", "😀")(r.nextInt(6)))
  private def text(r: Random, n: Int): String = words(r, n).mkString

  private val as = Seq(3L, 5L, 97L, 1L << 20); private val bs = Seq(7L, 11L, 13L, 17L)
  private val p = 4294967311L

  private val cases = Seq(
    Case("dot_long", "dot_long", Seq(longs, longs),
      c => ArrayOps.dot_long(c(0), c(1)),
      r => Seq(longArray(r, r.nextInt(6), 1000), longArray(r, r.nextInt(6), 1000))),
    Case("agree_count", "agree_count", Seq(longs, longs),
      c => ArrayOps.agree_count(c(0), c(1)),
      r => Seq(longArray(r, r.nextInt(8), 3), longArray(r, r.nextInt(8), 3))),
    Case("pq_adc", "pq_adc", Seq(longs, longs),
      c => ArrayOps.pq_adc(c(0), c(1), 8),
      r => Seq(longArray(r, 4 * 8, 1000), longArray(r, 4, 8))),
    Case("sq_wdot", "sq_wdot", Seq(longs, longs),
      c => ArrayOps.sq_wdot(c(0), c(1)),
      r => { val m = r.nextInt(3); Seq(longArray(r, 8 * m, 1 << 20),
        Seq.fill(m)(r.nextLong())) }),
    Case("winnow_pack", "winnow_pack", Seq(StringType),
      c => ArrayOps.winnow_pack(c(0), 4, 3, 257L, 2147483647L),
      r => Seq(text(r, r.nextInt(20)))),
    Case("minhash_sig", "minhash_sig", Seq(longs),
      c => ArrayOps.minhash_sig(c(0), as, bs, p),
      r => Seq(longArray(r, r.nextInt(6), Int.MaxValue))),
    Case("minhash_sig_str", "minhash_sig_str", Seq(strings),
      c => ArrayOps.minhash_sig_str(c(0), as, bs, p),
      r => Seq(words(r, r.nextInt(6)))),
    Case("simhash_sig", "simhash_sig", Seq(longs),
      c => ArrayOps.simhash_sig(c(0)),
      r => Seq(Seq.fill(r.nextInt(5))(r.nextLong()))),
    Case("simhash_sig_md5", "simhash_sig_md5", Seq(strings),
      c => ArrayOps.simhash_sig_md5(c(0)),
      r => Seq(words(r, r.nextInt(5)))),
    Case("band_keys", "band_keys", Seq(longs),
      c => ArrayOps.band_keys(c(0), 4, 3),
      r => Seq(Seq.fill(r.nextInt(14))(r.nextLong()))),
    Case("quantize_q over floats", "quantize_q", Seq(ArrayType(FloatType)),
      c => ArrayOps.quantize_q(c(0), graft.operators.Similarity.Q),
      r => Seq(Seq.fill(r.nextInt(6))((r.nextDouble() * 4 - 2).toFloat))),
    Case("quantize_q over doubles", "quantize_q", Seq(ArrayType(DoubleType)),
      c => ArrayOps.quantize_q(c(0), graft.operators.Similarity.Q),
      r => Seq(Seq.fill(r.nextInt(6))(r.nextDouble() * 4 - 2))),
    Case("shingles", "shingles", Seq(strings),
      c => ArrayOps.shingles(c(0), 2),
      r => Seq(words(r, r.nextInt(8)))),
    Case("shinglesAll", "shinglesAll", Seq(strings),
      c => ArrayOps.shinglesAll(c(0), 2),
      r => Seq(words(r, r.nextInt(8)))),
    Case("substr_extent", "substr_extent", Seq(StringType, StringType, LongType, LongType),
      c => ArrayOps.substr_extent(c(0), c(1), c(2), c(3), 3),
      r => {
        val shared = text(r, 3 + r.nextInt(5))
        val (pre, post) = (text(r, r.nextInt(4)), text(r, r.nextInt(4)))
        val ta = pre + shared + post
        val tb = text(r, r.nextInt(4)) + shared + text(r, r.nextInt(4))
        // a true anchor, or (one row in three) a random position
        val pa = if (r.nextInt(3) == 0) r.nextInt(ta.codePointCount(0, ta.length))
          else pre.codePointCount(0, pre.length)
        val pb = tb.codePointCount(0, tb.indexOf(shared))
        Seq(ta, tb, pa.toLong, pb.toLong)
      }))

  test("the table covers every ArrayOps column wrapper") {
    val wrappers = ArrayOps.getClass.getMethods
      .filter(_.getReturnType == classOf[Column]).map(_.getName).toSet
    assert(cases.map(_.wrapper).toSet == wrappers)
  }

  test("a mistyped argument fails analysis; a column as SQL literal parameter is an error") {
    graft.functions.GraftExtensions.registerAll(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT dot_long(array(1, 2), array(3L))").collect())
    assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
    val p = intercept[Throwable](
      spark.sql("SELECT shingles(array('a', 'b'), id) FROM range(1)").collect())
    val msg = Iterator.iterate(p)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msg.exists(m => m != null && m.contains("shingles k must be a non-null literal")),
      p.toString)
  }

  cases.foreach { c =>
    test(s"${c.label}: generated code equals interpreted eval; null in, null out") {
      val rnd = new Random(c.label.hashCode)
      val seeded = Seq.fill(40)(c.gen(rnd))
      val withNulls = c.inputs.indices.map(i => seeded(i).updated(i, null))
      val rows = (seeded ++ withNulls).map(Row.fromSeq)
      val schema = StructType(c.inputs.zipWithIndex.map { case (t, i) =>
        StructField(s"c$i", t) })
      // an RDD source, not a local relation: the optimizer would
      // evaluate a projection over one interpreted
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      val out = df.select(c.kernel(schema.fieldNames.toSeq.map(col)).as("out"))
      val analyzed = out.queryExecution.analyzed.asInstanceOf[Project]
      val kernel = analyzed.projectList.head.collectFirst { case k: Kernel => k }.get
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains(s"*(1) Project [${kernel.name}("), plan)
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val generated = try out.collect().map(_.get(0)).toSeq
        finally spark.conf.unset("spark.sql.codegen.fallback")

      // interpreted, by a serialized copy as an executor receives it
      val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
      val shipped = ser.deserialize[Expression](ser.serialize[Expression](
        BindReferences.bindReference(kernel, analyzed.child.output)))
      val interpreted = df.queryExecution.toRdd.map(_.copy()).collect().toSeq
        .map(row => CatalystTypeConverters.convertToScala(shipped.eval(row), shipped.dataType))

      assert(generated.size == rows.size)
      generated.zip(interpreted).zip(rows).foreach { case ((g, i), row) =>
        assert(g == i, s"row $row")
      }
      assert(generated.take(seeded.size).forall(_ != null))
      assert(generated.drop(seeded.size).forall(_ == null))
    }
  }
}
