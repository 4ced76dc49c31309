package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every native kernel Column of [[graft.functions]] over a parquet frame
  * with one all-null row: generated code and interpreted eval give the
  * same rows, those rows are the direct [[NativeKernels]] call on each
  * row's values (null when any input is null), and the output is
  * nullable only where the kernel can return null or an input is
  * nullable.
  */
class NativeKernelEvalPathsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    "id" -> LongType,
    "longs" -> ArrayType(LongType),
    "words" -> ArrayType(StringType),
    "f1" -> ArrayType(FloatType),
    "f2" -> ArrayType(FloatType),
    "sa" -> ArrayType(StringType),
    "sb" -> ArrayType(StringType),
    "codes" -> ArrayType(IntegerType),
    "lut" -> ArrayType(DoubleType),
    "x" -> LongType,
    "y" -> LongType,
    "s" -> StringType,
    "warc" -> StringType,
    "warcb" -> BinaryType,
    "url" -> StringType,
    "href" -> StringType,
    "host" -> StringType,
    "gz" -> BinaryType,
    "payload" -> BinaryType,
    "parts" -> ArrayType(BinaryType),
    "cs" -> StringType).map { case (n, t) => StructField(n, t) })

  private def record(body: String): String =
    s"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: ${body.getBytes(UTF_8).length}\r\n\r\n$body"

  private val rows = Seq(
    Row(1L, Seq(3L, 17L, 99L, 1L << 27),
      "the cat sat on the mat the cat".split(" ").toSeq,
      Seq(0.5f, -1.0f, 2.0f), Seq(1.5f, 0.25f, -0.75f),
      Seq("a b", "b c", "c d"), Seq("b c", "c d", "x y"),
      Seq(1, 0), Seq(0.1, 0.2, 0.3, 0.4),
      5L, 3L,
      "<div>a &#65;&#x42; <p>inner</p></div><nav>n</nav>",
      record("hello") + "\r\n\r\n" + record("world"),
      (record("hé!") + "\r\n\r\n" + record("ok")).getBytes(UTF_8),
      "HTTP://Example.COM:80/a/b?utm_source=x&q=1#frag", "../c?d=1",
      "www.example.co.uk",
      NativeKernels.gzipMember("abc".getBytes(UTF_8)) ++
        NativeKernels.gzipMember("def".getBytes(UTF_8)),
      "héllo".getBytes(UTF_8), Seq("ab".getBytes(UTF_8), "cd".getBytes(UTF_8)),
      "ISO-8859-1"),
    // the edge row: too few words (minhash_words and repetition_signals
    // return null), no scheme (url_canonicalize null, url_host ""), a
    // non-http href (url_resolve null), broken WARC framing, no gzip
    Row(2L, Seq.empty[Long], Seq("one"),
      Seq(1.0f, 0.0f), Seq(0.0f, 1.0f),
      Seq.empty[String], Seq("a"),
      Seq(0, 1), Seq(1.0, 2.0, 3.0, 4.0),
      65535L, -1L,
      "plain & text &#0; no refs <b>x</b>",
      "garbage without framing", "garbage".getBytes(UTF_8),
      "no-scheme/path", "mailto:a@b.c", "localhost",
      Array[Byte](1, 2, 3), Array[Byte](-1, -2), Seq.empty[Array[Byte]],
      "no-such-charset"),
    Row.fromSeq(3L +: Seq.fill(schema.length - 1)(null)))

  private def arr(v: Any) = v.asInstanceOf[ArrayData]
  private def str(v: Any) = v.asInstanceOf[UTF8String]
  private def bin(v: Any) = v.asInstanceOf[Array[Byte]]

  /** A kernel Column over `inputs`, its direct call on catalyst values,
    * and whether it may return null on non-null input.
    */
  private case class Kernel(name: String, inputs: Seq[String],
      column: Seq[Column] => Column, direct: Seq[Any] => Any,
      returnsNull: Boolean = false)

  private val kernels = Seq(
    Kernel("minhash_sig", Seq("longs"), c => minhash_sig(c(0), 8),
      a => NativeKernels.minhashSig(arr(a(0)), 8)),
    Kernel("simhash_fp", Seq("longs"), c => simhash_fp(c(0), 16),
      a => NativeKernels.simhashFp(arr(a(0)), 16)),
    Kernel("cosine_f", Seq("f1", "f2"), c => cosine_f(c(0), c(1)),
      a => NativeKernels.cosineF(arr(a(0)), arr(a(1)))),
    Kernel("lsh_bucket", Seq("f1"), c => lsh_bucket(c(0), 6),
      a => NativeKernels.lshBucket(arr(a(0)), 6)),
    Kernel("shingles_of", Seq("words"), c => shingles_of(c(0), 2),
      a => NativeKernels.shinglesOf(arr(a(0)), 2)),
    Kernel("minhash_words", Seq("words"), c => minhash_words(c(0), 2, 8),
      a => NativeKernels.minhashFromWords(arr(a(0)), 2, 8), returnsNull = true),
    Kernel("simhash_words", Seq("words"), c => simhash_words(c(0), 16),
      a => NativeKernels.simhashFromTokens(arr(a(0)), 16)),
    Kernel("winnow", Seq("words"), c => winnow(c(0), 2, 3),
      a => NativeKernels.winnow(arr(a(0)), 2, 3)),
    Kernel("repetition_signals", Seq("words"), c => repetition_signals(c(0), 2),
      a => NativeKernels.repetitionSignals(arr(a(0)), 2), returnsNull = true),
    Kernel("sorted_intersect_count", Seq("sa", "sb"),
      c => sorted_intersect_count(c(0), c(1)),
      a => NativeKernels.sortedIntersectCount(arr(a(0)), arr(a(1)))),
    Kernel("md5_windows", Seq("words"), c => md5_windows(c(0), 2),
      a => NativeKernels.md5Grams(arr(a(0)), 2)),
    Kernel("pq_adc", Seq("codes", "lut"), c => pq_adc(c(0), c(1), 2),
      a => NativeKernels.pqAdc(arr(a(0)), arr(a(1)), 2)),
    Kernel("z_value16", Seq("x", "y"), c => z_value16(c(0), c(1)),
      a => NativeKernels.zValue16(a(0).asInstanceOf[Long], a(1).asInstanceOf[Long])),
    Kernel("decode_numeric_refs", Seq("s"), c => decode_numeric_refs(c(0)),
      a => NativeKernels.decodeNumericRefs(str(a(0)))),
    Kernel("warc_records", Seq("warc"), c => warc_records(c(0)),
      a => NativeKernels.warcSplitRecords(str(a(0)))),
    Kernel("warc_records_bin", Seq("warcb"), c => warc_records_bin(c(0)),
      a => NativeKernels.warcSplitRecordsBytes(bin(a(0)))),
    Kernel("html_blocks", Seq("s"), c => html_blocks(c(0)),
      a => NativeKernels.htmlSegmentBlocks(str(a(0)))),
    Kernel("url_canonicalize", Seq("url"), c => url_canonicalize(c(0)),
      a => NativeKernels.urlCanonicalize(str(a(0))), returnsNull = true),
    Kernel("url_host", Seq("url"), c => url_host(c(0)),
      a => NativeKernels.urlHost(str(a(0)))),
    Kernel("url_registered_domain", Seq("host"), c => url_registered_domain(c(0)),
      a => NativeKernels.urlRegisteredDomain(str(a(0)))),
    Kernel("url_resolve", Seq("url", "href"), c => url_resolve(c(0), c(1)),
      a => NativeKernels.urlResolve(str(a(0)), str(a(1))), returnsNull = true),
    Kernel("warc_gunzip", Seq("gz"), c => warc_gunzip(c(0)),
      a => NativeKernels.gunzipMembers(bin(a(0)))),
    Kernel("gzip_member", Seq("payload"), c => gzip_member(c(0)),
      a => NativeKernels.gzipMember(bin(a(0)))),
    Kernel("concat_binary", Seq("parts"), c => concat_binary(c(0)),
      a => NativeKernels.concatBinary(arr(a(0)))),
    Kernel("decode_charset", Seq("payload", "cs"), c => decode_charset(c(0), c(1)),
      a => NativeKernels.decodeCharsetBytes(bin(a(0)), str(a(1)))),
    Kernel("encode_charset", Seq("s", "cs"), c => encode_charset(c(0), c(1)),
      a => NativeKernels.encodeCharsetBytes(str(a(0)), str(a(1)))))

  private def applied(df: DataFrame): DataFrame =
    df.select(col("id") +: kernels.map(k =>
      k.column(k.inputs.map(col)).as(k.name)): _*)

  /** Binary values compare by content, arrays and structs as lists. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toList
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case r: Row => r.toSeq.map(norm).toList
    case other => other
  }

  /** `applied(df)` collected in id order under one eval path; the
    * interpreted path must plan no whole-stage codegen.
    */
  private def collected(df: DataFrame, codegen: Boolean): Seq[Seq[Any]] = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val out = applied(df)
      val stages = out.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w
      }
      assert(stages.nonEmpty == codegen, s"codegen=$codegen plans $stages")
      out.collect().toSeq.sortBy(_.getLong(0)).map(r => r.toSeq.map(norm))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every kernel: codegen and interpreted eval give the direct kernel call's rows") {
    val dir = java.nio.file.Files.createTempDirectory("kernels").resolve("in").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(dir)
    val df = spark.read.parquet(dir)
    val gen = collected(df, codegen = true)
    val interp = collected(df, codegen = false)
    val out = applied(df).schema
    kernels.zipWithIndex.foreach { case (k, i) =>
      val expected = rows.map { r =>
        val in = k.inputs.map(c => CatalystTypeConverters.convertToCatalyst(
          r.get(schema.fieldIndex(c))))
        if (in.contains(null)) null
        else norm(CatalystTypeConverters.convertToScala(k.direct(in),
          out(k.name).dataType))
      }
      assert(gen.map(_(i + 1)) == expected, s"${k.name} codegen")
      assert(interp.map(_(i + 1)) == expected, s"${k.name} interpreted")
      assert(out(k.name).nullable, s"${k.name} over nullable inputs")
    }
    // the all-null row is null in every kernel column, and each kernel
    // that can return null does so on the edge row
    assert(gen(2).tail.forall(_ == null))
    kernels.zipWithIndex.filter(_._1.returnsNull).foreach { case (k, i) =>
      assert(gen(1)(i + 1) == null, s"${k.name} edge row")
    }
  }

  test("over non-null inputs only the four null-returning kernels are nullable") {
    val nonNull = StructType(schema.map(_.copy(nullable = false)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows.take(2): _*), nonNull)
    val out = applied(df).schema
    kernels.foreach { k =>
      assert(out(k.name).nullable == k.returnsNull, k.name)
    }
    assert(kernels.filter(_.returnsNull).map(_.name).toSet == Set(
      "minhash_words", "repetition_signals", "url_canonicalize", "url_resolve"))
  }
}
