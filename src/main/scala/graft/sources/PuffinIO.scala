package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Minimal writer/reader for the Puffin statistics-file format (public
  * Iceberg "Puffin file format" spec): `Magic Blob₁..Blobₙ Footer`,
  * where Footer = `Magic FooterPayload FooterPayloadSize Flags Magic`,
  * FooterPayload is a JSON document listing each blob's `type`,
  * `fields`, `snapshot-id`, `sequence-number`, `offset`, `length` and
  * free-form `properties`, and FooterPayloadSize is a 4-byte
  * little-endian int. This implementation writes uncompressed payloads
  * with zero flags and verifies all three magics + the payload size on
  * read — enough to round-trip real statistics blobs (the KMV NDV
  * sketches here) byte-exactly; compression codecs are intentionally
  * not supported (a compressed foreign file fails loudly, not softly).
  */
object PuffinIO {

  private val Magic = Array[Byte]('P', 'F', 'A', '1')

  case class Blob(blobType: String, fields: Seq[Int], snapshotId: Long,
      sequenceNumber: Long, properties: Map[String, String],
      data: Array[Byte])

  def write(file: java.io.File, blobs: Seq[Blob]): Unit = {
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(file))
    try {
      out.write(Magic)
      var offset = 4L
      val located = blobs.map { b =>
        val o = offset
        out.write(b.data)
        offset += b.data.length
        (b, o)
      }
      val blobJson = located.map { case (b, o) =>
        val props = b.properties.toSeq.sortBy(_._1).map { case (k, v) =>
          s""""${escape(k)}": "${escape(v)}""""
        }.mkString("{", ", ", "}")
        s"""{"type": "${escape(b.blobType)}", "fields": [${b.fields.mkString(", ")}], """ +
          s""""snapshot-id": ${b.snapshotId}, "sequence-number": ${b.sequenceNumber}, """ +
          s""""offset": $o, "length": ${b.data.length}, "properties": $props}"""
      }.mkString("[", ", ", "]")
      val payload = s"""{"blobs": $blobJson}""".getBytes(StandardCharsets.UTF_8)
      out.write(Magic)
      out.write(payload)
      out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(payload.length).array())
      out.write(Array[Byte](0, 0, 0, 0)) // flags: no payload compression
      out.write(Magic)
    } finally out.close()
  }

  /** Parse a Puffin file: magic checks front/footer, payload size check,
    * blob extraction by (offset, length). Fails loudly on a compressed
    * payload (flag bit 0) or any structural mismatch. */
  def read(file: java.io.File): Seq[Blob] = {
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    require(bytes.length >= 20, s"not a Puffin file (too short): $file")
    def magicAt(i: Int): Boolean =
      bytes(i) == 'P' && bytes(i + 1) == 'F' && bytes(i + 2) == 'A' && bytes(i + 3) == '1'
    require(magicAt(0) && magicAt(bytes.length - 4),
      s"bad Puffin magic: $file")
    val flags = ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    require((flags & 1) == 0, s"compressed Puffin footer not supported: $file")
    val payloadSize = ByteBuffer.wrap(bytes, bytes.length - 12, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    val payloadStart = bytes.length - 12 - payloadSize
    require(payloadStart >= 8 && magicAt(payloadStart - 4),
      s"bad Puffin footer framing: $file")
    val payload = new String(bytes, payloadStart, payloadSize, StandardCharsets.UTF_8)
    val mapper = graft.Json.mapper
    val root = mapper.readTree(payload)
    val arr = root.get("blobs")
    require(arr != null && arr.isArray, s"Puffin footer missing blobs: $file")
    val out = scala.collection.mutable.ArrayBuffer.empty[Blob]
    arr.forEach { b =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[Int]
      val fn = b.get("fields")
      if (fn != null && fn.isArray) fn.forEach(f => fields += f.asInt())
      val props = scala.collection.mutable.Map.empty[String, String]
      val pn = b.get("properties")
      if (pn != null && pn.isObject)
        pn.fields().forEachRemaining(e => props += (e.getKey -> e.getValue.asText()))
      val offset = b.get("offset").asLong()
      val length = b.get("length").asInt()
      require(offset >= 4 && offset + length <= payloadStart - 4,
        s"blob range outside file body: $file")
      out += Blob(
        Option(b.get("type")).map(_.asText()).getOrElse(""),
        fields.toSeq,
        Option(b.get("snapshot-id")).map(_.asLong()).getOrElse(-1L),
        Option(b.get("sequence-number")).map(_.asLong()).getOrElse(0L),
        props.toMap,
        java.util.Arrays.copyOfRange(bytes, offset.toInt, offset.toInt + length))
    }
    out.toSeq
  }

  /** KMV min-k sketch blob payload: ascending distinct hashes as 8-byte
    * little-endian longs (the engine's portable 28-bit hash domain). */
  def sketchBytes(mins: Seq[Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(mins.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    mins.foreach(buf.putLong)
    buf.array()
  }

  def sketchLongs(data: Array[Byte]): Seq[Long] = {
    require(data.length % 8 == 0, "sketch blob length not a multiple of 8")
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    (0 until data.length / 8).map(_ => buf.getLong)
  }

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
}
