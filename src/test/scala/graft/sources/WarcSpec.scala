package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import graft.SparkSpec

class WarcSpec extends SparkSpec {

  private def rec(id: Long, typ: String, payload: Array[Byte]) =
    Warc.WarcRecord("", typ, s"<urn:uuid:$id>", s"http://t/doc/$id",
      "2026-08-14T00:00:00Z",
      if (typ == "response") "application/http; msgtype=response" else "text/plain",
      payload.length.toLong, payload)

  test("plain and per-record-gzip archives round-trip identically") {
    val tmp = tempDir("warc")
    val records = (0L until 7L).map { i =>
      rec(i, if (i % 2 == 0) "conversion" else "response",
        (s"payload-$i-" + "x" * i.toInt).getBytes(UTF_8))
    }
    val plain = tmp.resolve("a.warc").toString
    val gz = tmp.resolve("a.warc.gz").toString
    Warc.writeArchive(plain, records)
    Warc.writeArchive(gz, records)

    for (p <- Seq(plain, gz)) {
      val got = Warc.read(spark, Seq(p)).collect().sortBy(_.record_id)
      assert(got.length === 7, p)
      got.zip(records.sortBy(_.record_id)).foreach { case (g, e) =>
        assert(g.record_type === e.record_type)
        assert(g.target_uri === e.target_uri)
        assert(g.content_length === e.payload.length)
        assert(g.payload.toSeq === e.payload.toSeq)
      }
    }
  }

  test("one archive file = one input partition (non-splittable gz posture)") {
    val tmp = tempDir("warc")
    val paths = (0 until 3).map { k =>
      val p = tmp.resolve(s"p$k.warc.gz").toString
      Warc.writeArchive(p, Seq(rec(k, "conversion", s"t$k".getBytes(UTF_8))))
      p
    }
    assert(Warc.read(spark, paths).rdd.getNumPartitions === 3)
    assert(Warc.listArchives(spark, tmp.toString)
      .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet === paths.toSet)
  }

  test("HTTP response payloads split into head and body") {
    val body = "<html>héllo</html>".getBytes(UTF_8)
    val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nX-A: b"
    val payload = (head + "\r\n\r\n").getBytes(US_ASCII) ++ body
    val Some((h, b)) = Warc.httpSplit(payload)
    assert(h === head)
    assert(b.toSeq === body.toSeq)
    assert(Warc.httpSplit("not http".getBytes(US_ASCII)).isEmpty)
  }

  test("httpResponses + wetTexts project the crawl views") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("warc")
    val html = "<html><body>doc body</body></html>".getBytes(UTF_8)
    val http = "HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n"
      .getBytes(US_ASCII) ++ html
    val p = tmp.resolve("c.warc.gz").toString
    Warc.writeArchive(p, Seq(
      rec(1, "response", http), rec(2, "conversion", "wet text".getBytes(UTF_8))))
    val recs = Warc.read(spark, Seq(p))
    val resp = Warc.httpResponses(recs).collect().head
    assert(resp.getAs[Int]("http_status") === 404)
    assert(resp.getAs[String]("http_content_type") === "text/html")
    assert(new String(resp.getAs[Array[Byte]]("body"), UTF_8)
      === "<html><body>doc body</body></html>")
    val wet = Warc.wetTexts(recs).select(col("text")).collect().head.getString(0)
    assert(wet === "wet text")
  }

  test("malformed HTTP status lines refuse with record context") {
    val tmp = tempDir("warc")
    def respRec(id: Long, head: String) = {
      val payload = (head + "\r\n\r\nbody").getBytes("US-ASCII")
      Warc.WarcRecord("", "response", s"<urn:uuid:$id>", s"http://t/$id",
        "2026-08-14T00:00:00Z", "application/http; msgtype=response",
        payload.length.toLong, payload)
    }
    // double-space status (real crawl artifact) parses; no-status refuses
    assert(Warc.httpStatus("HTTP/1.1  200 OK", "t") === 200)
    assert(Warc.httpStatus("HTTP/1.0 404", "t") === 404)
    val e = intercept[IllegalArgumentException] {
      Warc.httpStatus("HTTP/1.1", "rec-9")
    }
    assert(e.getMessage.contains("rec-9"))
    val p = tmp.resolve("bad.warc").toString
    Warc.writeArchive(p, Seq(respRec(1, "HTTP/1.1")))
    intercept[org.apache.spark.SparkException] { // wrapped executor-side
      Warc.httpResponses(Warc.read(spark, Seq(p))).collect()
    }
  }

  test("malformed streams refuse loudly with the offending detail") {
    def parseAll(s: String) =
      Warc.parseStream(new ByteArrayInputStream(s.getBytes(US_ASCII)), "f").toList

    val badVersion = intercept[IllegalArgumentException] {
      parseAll("WARC/0.9\r\nContent-Length: 0\r\n\r\n\r\n\r\n")
    }
    assert(badVersion.getMessage.contains("WARC/1.0"))

    val noLength = intercept[IllegalArgumentException] {
      parseAll("WARC/1.0\r\nWARC-Type: response\r\n\r\nxx\r\n\r\n")
    }
    assert(noLength.getMessage.contains("Content-Length"))

    val badTerm = intercept[IllegalArgumentException] {
      parseAll("WARC/1.0\r\nContent-Length: 2\r\n\r\nxxGARBAGE\r\n\r\n")
    }
    assert(badTerm.getMessage.contains("terminator"))

    val truncated = intercept[java.io.EOFException] {
      parseAll("WARC/1.0\r\nContent-Length: 100\r\n\r\nshort")
    }
    assert(truncated.getMessage.contains("payload bytes"))
  }

  test("blank-line padding between records is tolerated") {
    val one = "WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    val padded = one + "\r\n\r\n" + one
    val got = Warc.parseStream(
      new ByteArrayInputStream(padded.getBytes(US_ASCII)), "f").toList
    assert(got.length === 2)
    assert(got.forall(r => new String(r.payload, UTF_8) == "hi"))
  }
}
