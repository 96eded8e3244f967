package graft.queries

import graft.QueryDef
import graft.interop.ParquetRead
import graft.rel._
import org.apache.spark.sql.functions._

/** SURVEY §2.6 sources/sinks: CSV and JSON writers + readers round-trip
  * through real files (to_csv/to_json, ref expr/api.py:679-777;
  * deferred read_csv, common/utils/defer_utils.py:147), the deferred
  * [[ReadCsv]] algebra node, and the Tee write-through node. The oracle
  * computes the same aggregate from the ORIGINAL parquet — so column
  * fidelity across the format round-trip is exactly what is checked.
  */
object SourceQueries {

  private def tmp(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_src/$name"

  val defs: Seq[QueryDef] = Seq(

    // to_csv → deferred ReadCsv node (schema inference) → aggregate.
    q("src_csv_roundtrip",
      """SELECT n_regionkey, count(*) AS n,
        |       round(sum(CAST(n_nationkey AS DOUBLE)) + 1e-9, 2) AS s
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""") { c =>
      val out = tmp("nation_csv")
      c.nation.select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").option("header", "true").csv(out)
      val rel = Sort(
        Aggregate(ReadCsv(out),
          keys = Seq("n_regionkey" -> RCol("n_regionkey")),
          aggs = Seq(
            "n" -> RAgg("count", Nil),
            "s" -> RCall("round", Seq(
              RBin("+", RAgg("sum",
                Seq(RCast(RCol("n_nationkey"), "double"))),
                RLit("1e-9", "double")),
              RLit("2", "int"))))),
        Seq(SortKey(RCol("n_regionkey"), true, true)))
      new Lower(c.spark).lower(rel)
    },

    // to_avro → deferred ReadAvro node → aggregate: the row-major
    // interchange format beside the columnar parquet/ORC pair (Spark 4
    // bundles AvroFileFormat natively — no extra classpath). The
    // oracle aggregates the ORIGINAL parquet, so type and row fidelity
    // across the Avro round-trip is what the hash checks.
    q("src_avro_roundtrip",
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey < 10000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""") { c =>
      val out = tmp("orders_avro")
      c.orders.filter(col("o_orderkey") < 10000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite")
        .format("org.apache.spark.sql.avro.AvroFileFormat").save(out)
      new Lower(c.spark).lower(ReadAvro(out))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    },

    // to_xml → deferred ReadXml node → aggregate: Spark 4 ships native
    // XML (rowTag-delimited records, schema inferred). Integer/string
    // columns only — the point is record-structure fidelity, and XML
    // text round-trips of doubles are a formatting question the JSON
    // round-trip already covers. Oracle aggregates the ORIGINAL parquet.
    q("src_xml_roundtrip",
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""") { c =>
      val out = tmp("nation_xml")
      c.nation.select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").option("rowTag", "nation")
        .format("xml").save(out)
      new Lower(c.spark).lower(ReadXml(out, "nation"))
        // XML inference widens integers to LONG; restore the parquet
        // int32 so the oracle's schema matches
        .select(col("n_regionkey").cast("int").as("n_regionkey"),
          col("n_name"))
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"))
        .orderBy("n_regionkey")
    },

    // to_json → read back (schema inferred) → aggregate; doubles must
    // survive the text round-trip bit-exactly (Java shortest-repr).
    q("src_json_roundtrip",
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey < 5000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""") { c =>
      val out = tmp("orders_json")
      c.orders.filter(col("o_orderkey") < 5000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").json(out)
      c.spark.read.json(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    },

    // SCHEMA EVOLUTION across parquet writes (the lakehouse reality —
    // yesterday's shard has 2 columns, today's has 3; the reader must
    // merge footers and null-fill, not crash): write v1 (key, status)
    // and v2 (key, status, priority) to the same dataset root, read
    // with mergeSchema=true, and report per-status counts split by
    // whether the evolved column is present. The oracle reproduces the
    // merge arithmetically from the original table (v1 rows = NULL
    // priority). Footer-merge is metadata-side at scale; the data read
    // stays columnar.
    q("src_schema_evolution",
      """WITH v1 AS (SELECT o_orderstatus s, NULL AS pri FROM orders
        |            WHERE o_orderkey % 2 = 0),
        |v2 AS (SELECT o_orderstatus s, o_orderpriority pri FROM orders
        |       WHERE o_orderkey % 2 = 1),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT s AS o_orderstatus,
        |  count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN pri IS NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_legacy,
        |  count(DISTINCT pri)::BIGINT AS n_priorities
        |FROM u GROUP BY 1 ORDER BY o_orderstatus""") { c =>
      val out = tmp("orders_evolving")
      c.orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(out + "/batch=1")
      c.orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(out + "/batch=2")
      ParquetRead.read(c.spark, out, "mergeSchema" -> "true")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
            .as("n_legacy"),
          countDistinct(col("o_orderpriority")).as("n_priorities"))
        .orderBy("o_orderstatus")
    },

    // DYNAMIC PARTITION OVERWRITE (the idempotent-backfill primitive —
    // re-run one day/status slice without clobbering siblings): write
    // the partitioned dataset, overwrite ONLY the 'F' partition with a
    // restated copy (prices doubled) under
    // partitionOverwriteMode=dynamic, and read the whole dataset back
    // — untouched partitions must survive byte-for-byte. The oracle
    // reproduces the restatement arithmetically from the original table.
    q("src_dynamic_overwrite",
      """SELECT o_orderstatus,
        |  count(*)::BIGINT AS n,
        |  sum(CAST(round(o_totalprice *
        |      CASE WHEN o_orderstatus = 'F' THEN 200 ELSE 100 END
        |      + 1e-9) AS BIGINT))::BIGINT AS total_cents
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""") { c =>
      val out = tmp("orders_dyn_overwrite")
      val cents = round(col("o_totalprice") * 100 + lit(1e-9))
        .cast("long")
      c.orders.select(col("o_orderkey"), col("o_orderstatus"),
          cents.as("cents"))
        .write.mode("overwrite").partitionBy("o_orderstatus")
        .parquet(out)
      // restate ONE slice: doubled cents for the F partition only
      val restated = c.orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"),
          (cents * 2).as("cents"))
      restated.sparkSession.conf
        .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try restated.write.mode("overwrite").partitionBy("o_orderstatus")
        .parquet(out)
      finally restated.sparkSession.conf
        .set("spark.sql.sources.partitionOverwriteMode", "static")
      ParquetRead.read(c.spark, out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        .orderBy("o_orderstatus")
    },

    // Partitioned parquet sink + partition-pruned read-back: the
    // standard 100 TB layout (hive-style directories per key); the
    // filter on the partition column prunes directories at planning
    // time, so the scan reads only one partition's files.
    q("src_partitioned_write",
      """SELECT l_linestatus, count(*) AS n,
        |       round(sum(l_quantity) + 1e-9, 2) AS qty
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_linestatus ORDER BY l_linestatus""") { c =>
      val out = tmp("lineitem_parts")
      c.lineitem
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
      ParquetRead.read(c.spark, out)
        .filter(col("l_returnflag") === "R") // directory-pruned
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"), r2(sum(col("l_quantity"))).as("qty"))
        .orderBy("l_linestatus")
    },

    // ORC round-trip (the reference's multi-format read surface:
    // api.py read dispatch): columnar write → native vectorized ORC
    // read; the oracle aggregates the ORIGINAL parquet, so type and
    // row fidelity across the format conversion is what is checked.
    q("src_orc_roundtrip",
      """SELECT o_orderpriority, count(*) AS n,
        |       round(sum(o_totalprice) + 1e-9, 2) AS total
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""") { c =>
      val out = tmp("orders_orc")
      c.orders.select("o_orderstatus", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").orc(out)
      c.spark.read.orc(out)
        .filter(col("o_orderstatus") === "O")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"))
        .orderBy("o_orderpriority")
    },

    // Z-order clustered write (the Delta OPTIMIZE ZORDER / Iceberg
    // sort-order layout face): lineitem rewritten along a Morton curve
    // over (l_quantity, l_extendedprice), read back with a range
    // predicate on BOTH clustered dims. The layout only reorders rows,
    // so the oracle is the same filter+aggregate on the ORIGINAL
    // parquet — row-set preservation through the curve rewrite is what
    // the hash checks; ZOrderSpec asserts the pruning geometry.
    q("src_zorder_write",
      """SELECT l_linestatus, count(*) AS n,
        |       round(sum(l_extendedprice) + 1e-9, 2) AS price
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20
        |  AND l_extendedprice BETWEEN 10000 AND 30000
        |GROUP BY l_linestatus ORDER BY l_linestatus""") { c =>
      val out = tmp("lineitem_zorder")
      graft.ops.ZOrder.writeParquet(
        c.lineitem.select("l_linestatus", "l_quantity", "l_extendedprice"),
        out, Seq("l_quantity", "l_extendedprice"), bits = 7, partitions = 8)
      ParquetRead.read(c.spark, out)
        .filter(col("l_quantity").between(10, 20) &&
          col("l_extendedprice").between(10000, 30000))
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          r2(sum(col("l_extendedprice"))).as("price"))
        .orderBy("l_linestatus")
    },

    // JDBC connector round-trip (ref backends/* connector surface):
    // rows go INTO a real database (Derby, bundled with Spark) over
    // JDBC and come back through the serializable ReadJdbc leaf with a
    // range-partitioned parallel scan; the oracle aggregates the
    // original parquet, so type/row fidelity across the database
    // round-trip is what is checked.
    q("src_jdbc_roundtrip",
      """SELECT n_regionkey AS rk, count(*) AS n,
        |       min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY rk""") { c =>
      val url = "jdbc:derby:memory:graft_verify;create=true"
      c.nation.select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .format("jdbc").option("url", url).option("dbtable", "nation")
        .save()
      val rel = Sort(
        Aggregate(
          ReadJdbc(url, "nation",
            partitionColumn = Some("N_NATIONKEY"),
            lowerBound = 0L, upperBound = 25L, numPartitions = 4),
          keys = Seq("rk" -> RCol("N_REGIONKEY")),
          aggs = Seq("n" -> RAgg("count", Nil),
            // Derby CHAR pads with spaces; trim to restore fidelity
            "first_name" -> RCall("min",
              Seq(RCall("trim", Seq(RCol("N_NAME"))))))),
        Seq(SortKey(RCol("rk"), asc = true, nullsFirst = true)))
      new Lower(c.spark).lower(RelJson.parse(RelJson.write(rel)))
    },

    // Tee write-through (ref expr/relations.py:102-137): the node
    // writes its input to the sink AND the same rows flow downstream.
    // The write is an execute()-time effect (resolved like Cache, never
    // during lowering/analysis), so the query goes through execute().
    q("src_tee_write_through",
      """SELECT l_returnflag, count(*) AS n
        |FROM lineitem WHERE l_quantity > 45
        |GROUP BY l_returnflag ORDER BY l_returnflag""") { c =>
      val sink = tmp("tee_sink")
      val rel = Sort(
        Aggregate(
          Tee(
            Filter(ScanParquet(s"${c.dir}/lineitem.parquet"),
              RBin(">", RCol("l_quantity"), RLit("45", "int"))),
            sink),
          keys = Seq("l_returnflag" -> RCol("l_returnflag")),
          aggs = Seq("n" -> RAgg("count", Nil))),
        Seq(SortKey(RCol("l_returnflag"), true, true)))
      val result = new graft.api.GraftSession(c.spark).execute(rel)
      // write-through contract: the sink holds exactly the teed rows
      require(ParquetRead.read(c.spark, sink).count() ==
        c.lineitem.filter(col("l_quantity") > 45).count(),
        "tee sink row count mismatch")
      result
    },

    // Arrow IPC interchange (ref expr/api.py:590-678 to_pyarrow /
    // RecordBatchReader): the filtered projection is written as a
    // distributed Arrow IPC directory, read back through the ScanArrow
    // algebra leaf, and aggregated — column fidelity across the Arrow
    // hop is what the oracle checks (it reads the ORIGINAL parquet).
    q("src_arrow_roundtrip",
      """SELECT o_orderpriority, count(*) AS n,
        |       round(sum(o_totalprice) + 1e-9, 2) AS total
        |FROM orders WHERE o_orderkey < 20000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""") { c =>
      val dir = tmp("arrow_dir")
      graft.interop.ArrowIpc.write(
        c.orders.filter(col("o_orderkey") < 20000)
          .select("o_orderpriority", "o_totalprice"), dir)
      new graft.api.GraftSession(c.spark).execute(ScanArrow(dir))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          r2(sum(col("o_totalprice"))).as("total"))
        .orderBy("o_orderpriority")
    },

    // Write-audit-publish barrier (ref writes/wap.py:36-214): the
    // filtered customer slice is STAGED, audited (no null keys, no
    // rows outside the filter), and atomically promoted; the query
    // output is read back from the PUBLISHED version, so the oracle
    // checks the whole stage→audit→promote→read cycle.
    q("src_wap_publish",
      """SELECT c_mktsegment, count(*) AS n,
        |       round(sum(c_acctbal) + 1e-9, 2) AS bal
        |FROM customer WHERE c_acctbal > 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""") { c =>
      val sink = tmp("wap_sink")
      val input = Filter(ScanParquet(s"${c.dir}/customer.parquet"),
        RBin(">", RCol("c_acctbal"), RLit("0", "int")))
      // violations: any staged row breaking the filter contract
      val audit = Filter(
        UnboundTable(graft.ops.Wap.StagedBinding, Seq(
          "c_custkey" -> "BIGINT", "c_name" -> "STRING",
          "c_nationkey" -> "INT", "c_acctbal" -> "DOUBLE",
          "c_mktsegment" -> "STRING")),
        RBin("<=", RCol("c_acctbal"), RLit("0", "int")))
      new graft.api.GraftSession(c.spark)
        .execute(Publish(input, sink, audit))
      require(graft.ops.Wap.current(c.spark, sink).isDefined,
        "publish must have promoted a version")
      graft.ops.Wap.readCurrent(c.spark, sink)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          r2(sum(col("c_acctbal"))).as("bal"))
        .orderBy("c_mktsegment")
    },

    // binaryFile DSv2 source — the multimodal INGEST path: a directory
    // of image files read as (path, length, content) rows, ids parsed
    // from paths, pixels decoded partition-local by ops/Multimodal.
    // Payloads are the same deterministic BMPs as mm_decode_bmp
    // (LlmQueries) so the oracle is the same closed-form pixel
    // arithmetic plus the exact BMP container size.
    q("src_binary_files",
      """WITH d AS (SELECT doc_id, (2 + doc_id % 3)::BIGINT w,
        |                  (1 + doc_id % 2)::BIGINT h
        |           FROM documents WHERE doc_id < 50),
        |sz AS (SELECT doc_id, w, h,
        |              (54 + ((w * 3 + 3) // 4) * 4 * h)::BIGINT n_bytes
        |       FROM d),
        |px AS (SELECT doc_id, w, h, n_bytes,
        |         unnest(range(0, w * h)) AS p FROM sz),
        |v AS (SELECT doc_id, w, h, n_bytes,
        |        (doc_id * 31 + p * 3) % 256 AS r FROM px)
        |SELECT doc_id, CAST(max(w) AS INT) AS width,
        |       CAST(max(h) AS INT) AS height,
        |       max(n_bytes) AS n_bytes,
        |       round(avg(r) + 1e-9, 6) AS mean_r
        |FROM v GROUP BY doc_id ORDER BY doc_id""") { c =>
      // same generator as mm_decode_bmp, driver-side: the query under
      // test is the binaryFile SOURCE, not the payload construction
      def mkBmp(id: Long): Array[Byte] = {
        val w = 2 + (id % 3).toInt; val h = 1 + (id % 2).toInt
        val rowSize = ((w * 3 + 3) / 4) * 4
        val b = java.nio.ByteBuffer.allocate(54 + rowSize * h)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * h)
          .putShort(0).putShort(0).putInt(54)
          .putInt(40).putInt(w).putInt(h)
          .putShort(1).putShort(24).putInt(0)
          .putInt(rowSize * h).putInt(2835).putInt(2835)
          .putInt(0).putInt(0)
        (0 until h).foreach { fileRow =>
          val y = h - 1 - fileRow
          (0 until w).foreach { x =>
            val base = id * 31 + (y * w + x) * 3
            b.put(((base + 2) % 256).toByte) // B
            b.put(((base + 1) % 256).toByte) // G
            b.put((base % 256).toByte)       // R
          }
          (w * 3 until rowSize).foreach(_ => b.put(0.toByte))
        }
        b.array()
      }
      val dir = java.nio.file.Paths.get(tmp("bmp_files"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      java.nio.file.Files.createDirectories(dir)
      (0L until 50L).foreach { id =>
        java.nio.file.Files.write(dir.resolve(s"$id.bmp"), mkBmp(id))
      }
      val files = c.spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp").load(dir.toString)
        .select(regexp_extract(col("path"), "(\\d+)\\.bmp$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"), col("content").as("payload"))
      val decoded = graft.ops.Multimodal.decodePixels(
        files.select(col("doc_id"), col("payload")), "doc_id").toDF()
      decoded.join(files.select(col("doc_id"), col("n_bytes")),
          Seq("doc_id"))
        .select(col("doc_id"), col("width"), col("height"),
          col("n_bytes"), r6(col("mean_r")).as("mean_r"))
        .orderBy("doc_id")
    },

    // Fixed-width (mainframe/COBOL copybook-style) text round-trip —
    // the legacy-feed format Spark has NO built-in reader for, so the
    // adapter IS the operator: write customers as fixed-offset
    // records via format_string (zero-padded keys, right-padded
    // segment, left-padded cents), read back with spark.read.text +
    // positional substr/trim/cast projections, and aggregate. The
    // oracle computes the same aggregate from the ORIGINAL parquet —
    // column fidelity across the byte-offset round-trip is exactly
    // what is checked (padding, sign-free cents, segment trim). Scale:
    // read.text streams splittable line records; the projection is a
    // per-row expression tree — the same shape as a CSV scan.
    q("src_fixed_width",
      """SELECT c_mktsegment AS segment, count(*) AS n,
        |  sum(CAST(round(c_acctbal * 100 + 1e-9) AS BIGINT))::BIGINT
        |    AS bal_cents
        |FROM customer GROUP BY 1 ORDER BY segment""") { c =>
      val out = tmp("customer_fixed_width")
      // layout: key [1,10] zero-padded; segment [11,20] right-padded;
      // cents [21,32] left-padded with sign. The layout is a FIXED
      // 10-digit key field: format_string silently WIDENS the field
      // for keys >= 10^10 (reachable around SF~100k), shifting every
      // later byte offset so the read-back projection parses garbage
      // (ADVICE r10) — so any over-wide key fails the WRITE loudly
      // instead. Same guard a real copybook feed needs.
      c.customer.select(format_string("%010d%-10s%12d",
          when(col("c_custkey") >= 10000000000L,
            raise_error(concat(lit("src_fixed_width: c_custkey "),
              col("c_custkey").cast("string"),
              lit(" exceeds the 10-digit layout field; widen the " +
                "layout"))).cast("long"))
            .otherwise(col("c_custkey")),
          col("c_mktsegment"),
          expr("CAST(round(c_acctbal * 100 + 1e-9) AS BIGINT)"))
          .as("value"))
        .write.mode("overwrite").text(out)
      c.spark.read.text(out)
        .select(
          trim(substring(col("value"), 11, 10)).as("segment"),
          trim(substring(col("value"), 21, 12)).cast("long").as("cents"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("bal_cents"))
        .orderBy("segment")
    },
  )
}
