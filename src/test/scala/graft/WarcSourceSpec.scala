package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Warc

class WarcSourceSpec extends AnyFunSuite with SparkSuite {

  private def tmpDir() =
    tempDir("warc_v2_").toFile

  private def read(dir: java.io.File) =
    spark.read.format("graft.sources.WarcSource")
      .load(dir.getAbsolutePath)

  test("binary framing: a payload carrying a literal WARC/1.0 line and " +
      "invalid-UTF-8 bytes survives byte-exact — the case the text " +
      "profile documents away") {
    val dir = tmpDir()
    // payload = binary junk + an embedded version line + more junk
    val payload = Array[Byte](0, 1, -1, -2, 'W', 'A', 'R', 'C') ++
      "\r\n\r\nWARC/1.0\r\nWARC-Type: fake\r\n\r\n".getBytes("UTF-8") ++
      Array[Byte](-128, 127, 10, 13, 0)
    val out = new java.io.FileOutputStream(
      new java.io.File(dir, "a.warc"))
    try {
      Warc.writeRecord(out, "response", "https://ex.com/bin", payload)
      Warc.writeRecord(out, "metadata", null, "tail".getBytes("UTF-8"))
    } finally out.close()
    val rows = read(dir).orderBy("rec_idx").collect()
    assert(rows.length === 2, "the embedded WARC/1.0 must not split")
    assert(rows(0).getInt(1) === 0 && rows(0).getString(2) === "response"
      && rows(0).getString(3) === "https://ex.com/bin")
    assert(rows(0).getLong(4) === payload.length.toLong)
    assert(rows(0).getAs[Array[Byte]]("payload").toSeq === payload.toSeq)
    // absent Target-URI header → null column, not empty string
    assert(rows(1).getString(2) === "metadata" && rows(1).isNullAt(3))
    assert(new String(rows(1).getAs[Array[Byte]]("payload"), "UTF-8")
      === "tail")
  }

  test("gzip: one member per record, concatenated — and a directory " +
      "mixing .warc.gz with plain .warc reads both (per-file sniff)") {
    val dir = tmpDir()
    val gz = new java.io.FileOutputStream(
      new java.io.File(dir, "a.warc.gz"))
    try {
      Warc.writeGzipMember(gz, "request", "https://ex.com/1",
        "GET".getBytes("UTF-8"))
      Warc.writeGzipMember(gz, "response", "https://ex.com/1",
        "doc one".getBytes("UTF-8"))
    } finally gz.close()
    val plain = new java.io.FileOutputStream(
      new java.io.File(dir, "b.warc"))
    try Warc.writeRecord(plain, "response", "https://ex.com/2",
      "doc two".getBytes("UTF-8"))
    finally plain.close()
    val rows = read(dir).collect()
      .map(r => (r.getString(0).split("/").last, r.getInt(1),
        r.getString(2), new String(r.getAs[Array[Byte]]("payload"),
          "UTF-8"))).sortBy(x => (x._1, x._2))
    assert(rows.toSeq === Seq(
      ("a.warc.gz", 0, "request", "GET"),
      ("a.warc.gz", 1, "response", "doc one"),
      ("b.warc", 0, "response", "doc two")))
  }

  test("lax line endings: bare-LF headers parse; missing " +
      "Content-Length fails loudly with file and record index") {
    val dir = tmpDir()
    val body = "WARC/1.0\nWARC-Type: response\n" +
      "WARC-Target-URI: https://ex.com/lf\nContent-Length: 2\n\nhi\n\n"
    java.nio.file.Files.write(
      new java.io.File(dir, "lf.warc").toPath, body.getBytes("UTF-8"))
    val r = read(dir).collect()
    assert(r.length === 1 && r(0).getString(2) === "response" &&
      new String(r(0).getAs[Array[Byte]]("payload"), "UTF-8") === "hi")

    val bad = tmpDir()
    java.nio.file.Files.write(new java.io.File(bad, "bad.warc").toPath,
      "WARC/1.0\r\nWARC-Type: response\r\n\r\noops\r\n\r\n"
        .getBytes("UTF-8"))
    val e = intercept[org.apache.spark.SparkException] {
      read(bad).collect()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("Content-Length") && msg.contains("bad.warc"))
  }

  test("image payloads survive the gzip-member round trip byte-exact: " +
      "WARC → parseImageMeta decodes the generated dimensions (the " +
      "q414 chain's unit half); bare CR inside a header value is " +
      "preserved, CRLF terminators still strip") {
    val dir = tmpDir()
    val png = graft.ops.Multimodal.pngBytes(321, 99)
    val gif = graft.ops.Multimodal.gifBytes(17, 12, 4)
    val out = new java.io.FileOutputStream(
      new java.io.File(dir, "img.warc.gz"))
    try {
      Warc.writeGzipMember(out, "response", "https://ex.com/p.png", png)
      Warc.writeGzipMember(out, "response", "https://ex.com/a.gif", gif)
    } finally out.close()
    val rows = read(dir).orderBy("rec_idx").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Array[Byte]]("payload").toSeq === png.toSeq)
    val m0 = graft.ops.Multimodal.parseImageMeta(graft.ops.Multimodal
      .Blob(0L, rows(0).getAs[Array[Byte]]("payload"))).get
    assert((m0.width, m0.height, m0.n_frames) === ((321, 99, 1)))
    val m1 = graft.ops.Multimodal.parseImageMeta(graft.ops.Multimodal
      .Blob(1L, rows(1).getAs[Array[Byte]]("payload"))).get
    assert((m1.width, m1.height, m1.n_frames) === ((17, 12, 4)))

    // spec-illegal bare CR embedded in a header VALUE: preserved
    // verbatim (never silently deleted); the CRLF terminator of the
    // same line still strips its CR
    val crDir = tmpDir()
    java.nio.file.Files.write(new java.io.File(crDir, "cr.warc").toPath,
      ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: https://ex.com/a\rb\r\n" +
        "Content-Length: 2\r\n\r\nhi\r\n\r\n").getBytes("UTF-8"))
    val r = read(crDir).collect()
    assert(r.length === 1)
    assert(r(0).getString(3) === "https://ex.com/a\rb")
  }

  test("truncated payload (declared length past EOF) fails loudly, " +
      "never silently short-reads") {
    val dir = tmpDir()
    java.nio.file.Files.write(new java.io.File(dir, "t.warc").toPath,
      ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99\r\n\r\n" +
        "short").getBytes("UTF-8"))
    val e = intercept[org.apache.spark.SparkException] {
      read(dir).collect()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("Content-Length") || msg.contains("ends after"))
  }
}
