package graft

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Hand-built spec-conformant Iceberg tables for the foreign-format
  * read specs ([[IcebergAvroSpec]], [[IcebergOrcSpec]]): metadata JSON
  * + Avro manifests publishing arbitrary (path, format, rows) data
  * files over the fixed (id long, label string, ts timestamptz)
  * schema — pinning the FORMAT shapes foreign writers produce, not a
  * round trip through graft's own (parquet-only) writer. */
object IcebergHandBuilt {

  def writeAvro(path: String, schema: Schema, rs: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    val f = new java.io.File(path); f.getParentFile.mkdirs()
    w.create(schema, f); rs.foreach(w.append); w.close()
  }

  /** Default table schema fields (id, label, ts); specs that need a
    * different shape pass their own fields JSON + last column id. */
  val DefaultFieldsJson: String =
    """{"id":1,"name":"id","required":false,"type":"long"},
      |    {"id":2,"name":"label","required":false,"type":"string"},
      |    {"id":3,"name":"ts","required":false,"type":"timestamptz"}""".stripMargin

  /** Publish a table whose data files are the given (path, format,
    * rows) triples, schema = `fieldsJson` (default: id, label, ts).
    * `bounds` optionally gives a file (by path) its Appendix-D
    * `lower_bounds`/`upper_bounds` by field id — and nothing else, the
    * way a writer that does not track NaN counts publishes them. */
  def publish(root: String, files: Seq[(String, String, Long)],
      fieldsJson: String = DefaultFieldsJson, lastColumnId: Int = 3,
      bounds: Map[String, Map[Int, (Array[Byte], Array[Byte])]] = Map.empty): Unit = {
    def kvField(name: String, k: Int) =
      s"""{"name":"$name","type":["null",{"type":"array","items":{"type":"record",""" +
        s""""name":"k${k}_v${k + 1}","fields":[{"name":"key","type":"int"},""" +
        """{"name":"value","type":"bytes"}]}}],"default":null}"""
    val boundFields =
      if (bounds.isEmpty) ""
      else s",\n${kvField("lower_bounds", 126)},\n${kvField("upper_bounds", 129)}"
    val entrySchema = new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
        |  {"name":"status","type":"int"},
        |  {"name":"snapshot_id","type":["null","long"],"default":null},
        |  {"name":"sequence_number","type":["null","long"],"default":null},
        |  {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |    {"name":"content","type":"int"},
        |    {"name":"file_path","type":"string"},
        |    {"name":"file_format","type":"string"},
        |    {"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |    {"name":"record_count","type":"long"},
        |    {"name":"file_size_in_bytes","type":"long"}$boundFields
        |  ]}}
        |]}""".stripMargin)
    val entries = files.map { case (path, fmt, n) =>
      val dfRec = new GenericData.Record(entrySchema.getField("data_file").schema())
      dfRec.put("content", 0)
      dfRec.put("file_path", path)
      dfRec.put("file_format", fmt)
      dfRec.put("partition", new GenericData.Record(
        entrySchema.getField("data_file").schema().getField("partition").schema()))
      dfRec.put("record_count", n)
      dfRec.put("file_size_in_bytes", new java.io.File(path).length())
      bounds.get(path).foreach { byId =>
        def kv(field: String, pick: ((Array[Byte], Array[Byte])) => Array[Byte]) = {
          val item = dfRec.getSchema.getField(field).schema().getTypes.get(1).getElementType
          val arr = new java.util.ArrayList[GenericRecord]()
          byId.foreach { case (id, lu) =>
            val r = new GenericData.Record(item)
            r.put("key", id); r.put("value", java.nio.ByteBuffer.wrap(pick(lu))); arr.add(r)
          }
          dfRec.put(field, arr)
        }
        kv("lower_bounds", _._1); kv("upper_bounds", _._2)
      }
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", dfRec)
      e
    }
    writeAvro(s"$root/metadata/m0.avro", entrySchema, entries)
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |  {"name":"manifest_path","type":"string"},
        |  {"name":"manifest_length","type":"long"},
        |  {"name":"partition_spec_id","type":"int"},
        |  {"name":"content","type":"int"},
        |  {"name":"sequence_number","type":"long"},
        |  {"name":"min_sequence_number","type":"long"},
        |  {"name":"added_snapshot_id","type":"long"}
        |]}""".stripMargin)
    val lr = new GenericData.Record(listSchema)
    lr.put("manifest_path", s"$root/metadata/m0.avro")
    lr.put("manifest_length", new java.io.File(s"$root/metadata/m0.avro").length())
    lr.put("partition_spec_id", 0); lr.put("content", 0)
    lr.put("sequence_number", 1L); lr.put("min_sequence_number", 1L)
    lr.put("added_snapshot_id", 1L)
    writeAvro(s"$root/metadata/snap-1.avro", listSchema, Seq(lr))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      s"""{
         |  "format-version": 2, "table-uuid": "a0000000-0000-0000-0000-000000000000",
         |  "location": "$root", "last-sequence-number": 1,
         |  "last-updated-ms": 1700000000000, "last-column-id": $lastColumnId,
         |  "current-schema-id": 0,
         |  "schemas": [{"type":"struct","schema-id":0,"fields":[
         |    $fieldsJson]}],
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id":0,"fields":[]}],
         |  "last-partition-id": 999, "default-sort-order-id": 0,
         |  "sort-orders": [{"order-id":0,"fields":[]}], "properties": {},
         |  "current-snapshot-id": 1,
         |  "snapshots": [{"snapshot-id":1,"sequence-number":1,"timestamp-ms":1700000001000,
         |    "summary":{"operation":"append"},"manifest-list":"$root/metadata/snap-1.avro",
         |    "schema-id":0}],
         |  "snapshot-log": [{"timestamp-ms":1700000001000,"snapshot-id":1}]
         |}""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/metadata/version-hint.text"), "1")
  }
}
