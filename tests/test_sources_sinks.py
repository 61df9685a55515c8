"""Source/sink parity tests: CSV and .tbl ingestion (the reference's
file-source surface) and the Top-N console/JSON sinks.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE
from query_processing_over_streaming_data_using_flink_spark.plans.tpch import q3_shipping_priority
from query_processing_over_streaming_data_using_flink_spark.sources.catalog import (
    load_csv_table,
    load_table,
    load_tbl_table,
)
from query_processing_over_streaming_data_using_flink_spark.streaming import sinks


def test_csv_roundtrip_with_malformed_rows(spark, tmp_path):
    """CSV source semantics mirror the reference DDL options
    (ignore-parse-errors, comments, quoted fields)."""
    src = load_table(spark, SF_SMOKE, "customer")
    path = str(tmp_path / "customer_csv")
    src.coalesce(1).write.option("header", True).csv(path)
    # inject a comment line + a malformed line
    part = [f for f in os.listdir(path) if f.endswith(".csv")][0]
    with open(os.path.join(path, part), "a") as fh:
        fh.write("# trailing comment line\n")
        fh.write("not,a,valid\n")
    for f in os.listdir(path):  # drop stale hadoop checksum sidecars
        if f.endswith(".crc"):
            os.remove(os.path.join(path, f))
    back = load_csv_table(spark, path, "customer")
    # NB: back.count() would report 151 — count() prunes every column,
    # so the malformed line is never parsed and DROPMALFORMED never
    # fires (documented Spark CSV behavior). Parsed rows are correct.
    a = sorted([tuple(r) for r in back.collect()], key=repr)
    b = sorted([tuple(r) for r in src.collect()], key=repr)
    assert len(a) == len(b)
    assert a == b


def test_tbl_pipe_delimited_roundtrip(spark, tmp_path):
    """.tbl (pipe, headerless) ingestion — the reference exporter format
    (load_duckdb.ipynb: DELIMITER '|', HEADER FALSE)."""
    src = load_table(spark, SF_SMOKE, "nation")
    path = str(tmp_path / "nation_tbl")
    src.coalesce(1).write.option("sep", "|").csv(path)
    back = load_tbl_table(spark, path, "nation")
    assert sorted([tuple(r) for r in back.collect()]) == sorted(
        [tuple(r) for r in src.collect()]
    )


def test_topn_sinks(spark, tmp_path):
    top = q3_shipping_priority(spark, SF_SMOKE)
    text = sinks.format_topn_console(top)
    assert "rank" in text and "orderkey" in text
    assert len(text.splitlines()) >= 3

    payload = json.loads(sinks.topn_json_payload(top))
    assert payload["data"][0]["rank"] == 1
    assert set(payload["data"][0]) == {"rank", "orderkey", "revenue", "orderdate", "shippriority"}

    out = str(tmp_path / "feed" / "topn.jsonl")
    sink = sinks.JsonLinesTopNSink(out)
    sink(0, top)
    sink(1, top)
    lines = open(out).read().strip().splitlines()
    assert len(lines) == 2
    assert json.loads(lines[1])["data"][0]["orderkey"] == payload["data"][0]["orderkey"]
    # Exactly-once: a redelivered epoch overwrites its own record
    # instead of appending a duplicate line.
    sink(1, top)
    assert len(open(out).read().strip().splitlines()) == 2

    # Pipeline (job-graph) frame: every edge endpoint must be a node,
    # the epoch rides along, and the type tag routes the dashboard.
    pipe = json.loads(sinks.pipeline_json_payload(7))
    assert pipe["type"] == "pipeline" and pipe["epoch"] == 7
    ids = {n["id"] for n in pipe["nodes"]}
    assert all(a in ids and b in ids for a, b in pipe["edges"])
    assert len(pipe["nodes"]) >= 7
    assert all(n["count"] is None for n in pipe["nodes"])  # no stats given

    # With IVM epoch stats each node carries its per-epoch row count
    # (the reference DAG's per-node event counters).
    stats = {
        "epoch": 7, "events": 100,
        "rows": {"c": 10, "o": 30, "l": 60, "co": 25, "r": 12},
    }
    pipe = json.loads(sinks.pipeline_json_payload(7, stats=stats))
    by_id = {n["id"]: n["count"] for n in pipe["nodes"]}
    assert by_id["source"] == 100 and by_id["expand"] == 25
    assert by_id["fold"] == 12 and by_id["commit"] == 137
    assert by_id["topn"] == 12


def test_wire_format_parse_reference_sample(spark):
    """Parse lines in the reference's documented wire format
    (SURVEY §1.3 / view_output.ipynb sample): positional projection
    must match the Java parser (TPCHQuery3_StreamProcessor.java:301-338)."""
    from query_processing_over_streaming_data_using_flink_spark.sources import wire

    lines = spark.createDataFrame(
        [
            ("+LI1|155190|7706|1|17.00|21168.23|0.04|0.02|N|O|1996-03-13|1996-02-12|1996-03-22|DELIVER IN PERSON|TRUCK|x",),
            ("+CU7|Customer#7|addr|15|25-989-741-2988|121.65|AUTOMOBILE|comment",),
            ("-OR32|1301|O|218416.68|1995-07-16|2-HIGH|Clerk#616|0|c",),
        ],
        "value string",
    )
    rows = {r["relation"]: r for r in wire.parse_stream_lines(lines).collect()}
    li = rows["lineitem"]
    assert (li["op"], li["orderkey"], li["linenumber"]) == (1, 1, 1)
    assert (li["extendedprice"], li["discount"]) == (21168.23, 0.04)
    assert str(li["shipdate"]).startswith("1996-03-13")
    cu = rows["customer"]
    assert (cu["op"], cu["custkey"], cu["mktsegment"]) == (1, 7, "AUTOMOBILE")
    orr = rows["orders"]
    assert (orr["op"], orr["orderkey"], orr["o_custkey"]) == (-1, 32, 1301)
    assert str(orr["orderdate"]).startswith("1995-07-16")


def test_wire_format_roundtrip(spark, tmp_path):
    """Engine changelog -> wire text -> parse must reproduce the exact
    event multiset (op, relation, payload)."""
    from query_processing_over_streaming_data_using_flink_spark.sources import wire
    from query_processing_over_streaming_data_using_flink_spark.streaming.changelog import (
        build_changelog,
    )

    log = build_changelog(spark, SF_SMOKE, window=1000)
    path = str(tmp_path / "streamdata")
    wire.format_stream_lines(log).write.text(path)
    back = wire.read_streamdata(spark, path)
    orig = log.drop("seq")
    assert back.count() == orig.count()
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0


def test_write_partitioned_layout(spark, tmp_path):
    """Hive partitioning by lang with bounded file counts: partition
    dirs exist, data round-trips, and no partition explodes into
    per-task tiny files."""
    import glob

    from query_processing_over_streaming_data_using_flink_spark.operators import layout

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "corpus")
    layout.write_partitioned(docs, path, ["lang"], sort_cols=["doc_id"],
                             target_file_bytes=1 << 20)
    dirs = {d.split("=")[-1] for d in glob.glob(path + "/lang=*")}
    assert dirs == {r["lang"] for r in docs.select("lang").distinct().collect()}
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert back.exceptAll(docs.select(back.columns)).count() == 0
    for d in glob.glob(path + "/lang=*"):
        n = len(glob.glob(d + "/*.parquet"))
        assert 1 <= n <= 4, f"{d} has {n} files"


def test_write_zordered_prunes_both_dims(spark, tmp_path):
    """Z-order layout vs single-column sort, adjudicated on the actual
    parquet footer stats a scan prunes with: a ts-sorted layout leaves
    EVERY file spanning the full user range (a user predicate reads
    all files), while the Morton layout bounds every file in BOTH
    dimensions — point predicates on user skip most files, and time
    predicates still skip more than half."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from query_processing_over_streaming_data_using_flink_spark.operators import layout

    ev = load_table(spark, SF_SMOKE, "events")
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    df = ev.select(us.alias("t"), F.col("user_id").alias("u"))
    zpath, lpath = str(tmp_path / "zord"), str(tmp_path / "lin")
    layout.write_zordered(df, zpath, "t", "u", n_files=8)
    df.repartitionByRange(8, "t").sortWithinPartitions("t").write.parquet(lpath)

    def file_bounds(path):
        per = []
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo, hi = {}, {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    st, name = col.statistics, col.path_in_schema
                    lo[name] = min(lo.get(name, st.min), st.min)
                    hi[name] = max(hi.get(name, st.max), st.max)
            per.append((lo, hi))
        return per

    zb, lb = file_bounds(zpath), file_bounds(lpath)
    assert len(zb) == 8 and len(lb) == 8
    g = {r["u"] for r in df.select("u").distinct().collect()}
    gspan = {
        k: (max(hi[k] for _, hi in zb) - min(lo[k] for lo, _ in zb)) for k in ("t", "u")
    }

    def mean_span(bounds, k):
        return sum((hi[k] - lo[k]) / gspan[k] for lo, hi in bounds) / len(bounds)

    # Linear: time prunes perfectly, user never prunes.
    assert mean_span(lb, "t") < 0.25
    assert mean_span(lb, "u") == 1.0
    # Z-order: BOTH dimensions bounded per file.
    assert mean_span(zb, "u") < 0.6
    assert mean_span(zb, "t") < 0.8
    # The scan-cost statement itself: files READ for a user point
    # predicate (footer interval contains the user), averaged over all
    # users — the linear layout reads everything, Z-order skips most.
    z_read = sum(
        sum(1 for lo, hi in zb if lo["u"] <= u <= hi["u"]) for u in g
    ) / (len(g) * len(zb))
    l_read = sum(
        sum(1 for lo, hi in lb if lo["u"] <= u <= hi["u"]) for u in g
    ) / (len(g) * len(lb))
    assert l_read == 1.0
    assert z_read < 0.65
    # Round-trip: clustering rewrites layout, not data.
    back = spark.read.parquet(zpath)
    assert back.count() == df.count()
    assert back.exceptAll(df).count() == 0


def _hilbert_xy2d_ref(order, x, y):
    d, s = 0, 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_key_bijective_and_matches_reference(spark):
    """The unrolled Hilbert walk is the textbook xy2d: on the full
    16×16 grid (order 4) the keys are exactly the permutation
    0..255 matching the reference implementation, and consecutive
    curve positions are always GRID NEIGHBORS (|Δx|+|Δy| == 1 — the
    seam-free property the Z curve lacks)."""
    from pyspark.sql import functions as F

    from query_processing_over_streaming_data_using_flink_spark.operators import layout

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "qx long, qy long"
    )
    rows = layout.with_hilbert_key(grid, "qx", "qy", "h", order=4).collect()
    got = {(r["qx"], r["qy"]): r["h"] for r in rows}
    assert sorted(got.values()) == list(range(256))
    for (x, y), h in got.items():
        assert h == _hilbert_xy2d_ref(4, x, y), (x, y)
    pos = {h: xy for xy, h in got.items()}
    for h in range(255):
        (x0, y0), (x1, y1) = pos[h], pos[h + 1]
        assert abs(x1 - x0) + abs(y1 - y0) == 1, h


def test_write_hilbert_bounds_both_dims(spark, tmp_path):
    """Hilbert layout on real events: every file's footer interval is
    bounded in BOTH dimensions, like the Z-order layout — with the
    seam-free curve the mean bounding-box area is at least as tight."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from query_processing_over_streaming_data_using_flink_spark.operators import layout

    ev = load_table(spark, SF_SMOKE, "events")
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    df = ev.select(us.alias("t"), F.col("user_id").alias("u"))
    path = str(tmp_path / "hil")
    layout.write_hilbert(df, path, "t", "u", n_files=8)

    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) == 8
    per, glo = [], {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        lo, hi = {}, {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                st, name = col.statistics, col.path_in_schema
                lo[name] = min(lo.get(name, st.min), st.min)
                hi[name] = max(hi.get(name, st.max), st.max)
        per.append((lo, hi))
        for k in ("t", "u"):
            glo.setdefault(k, [lo[k], hi[k]])
            glo[k][0] = min(glo[k][0], lo[k])
            glo[k][1] = max(glo[k][1], hi[k])

    def mean_span(k):
        g = glo[k][1] - glo[k][0]
        return sum((hi[k] - lo[k]) / g for lo, hi in per) / len(per)

    assert mean_span("u") < 0.6
    assert mean_span("t") < 0.8
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    assert back.exceptAll(df).count() == 0


def test_compact_zordered_restores_pruning(spark, tmp_path):
    """OPTIMIZE-ZORDER: events written in arrival order across many
    small files (every file spans ~the full user range — zone maps
    prune nothing) compact into few Z-clustered files where user
    footer intervals are bounded again; data unchanged."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from query_processing_over_streaming_data_using_flink_spark.operators import layout

    ev = load_table(spark, SF_SMOKE, "events")
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    df = ev.select(us.alias("t"), F.col("user_id").alias("u"))
    path = str(tmp_path / "arrivals")
    # Arrival order ~ event_id: round-robin across 16 "micro-batch" files.
    df.repartition(16).write.parquet(path)
    assert len(glob.glob(path + "/part-*.parquet")) == 16

    def mean_u_span(p):
        spans, glo, ghi = [], None, None
        per = []
        for f in sorted(glob.glob(p + "/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo = hi = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema != "u":
                        continue
                    st = col.statistics
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            per.append((lo, hi))
            glo = lo if glo is None else min(glo, lo)
            ghi = hi if ghi is None else max(ghi, hi)
        return sum(hi - lo for lo, hi in per) / ((ghi - glo) * len(per))

    assert mean_u_span(path) > 0.9  # arrival order: no user pruning

    layout.compact_zordered(spark, path, "t", "u", target_file_bytes=2 << 10)
    assert mean_u_span(path) < 0.6  # Z-clustered: bounded again
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    assert back.exceptAll(df).count() == 0


def test_compact_small_files(spark, tmp_path):
    """Many tiny files compact to few; data unchanged."""
    import glob

    from query_processing_over_streaming_data_using_flink_spark.operators import layout

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "frag")
    docs.repartition(37).write.parquet(path)
    assert len(glob.glob(path + "/*.parquet")) == 37
    layout.compact_small_files(spark, path, target_file_bytes=256 << 20)
    assert len(glob.glob(path + "/*.parquet")) <= 2
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert back.exceptAll(docs.select(back.columns)).count() == 0


def test_json_table_roundtrip(spark, tmp_path):
    """JSON-lines write -> declared-schema read reproduces the table;
    malformed lines drop instead of failing the scan."""
    from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_json_table

    nation = load_table(spark, SF_SMOKE, "nation")
    path = str(tmp_path / "nation_json")
    nation.coalesce(1).write.json(path)
    with open(path + "/extra.json", "w") as f:
        f.write("not json at all {{{\n")
    back = load_json_table(spark, path, "nation")
    ok = back.filter(F.col("n_name").isNotNull())
    assert ok.count() == nation.count()
    assert ok.exceptAll(nation).count() == 0


def test_events_loader_dtype_adaptive(spark, tmp_path):
    """`load_table("events")` accepts both fixture encodings of `ts` —
    current timestamp[us] AND legacy TIMESTAMP(NANOS)/int64 — and yields
    identical microsecond timestamps (driver testdata drifted between
    encodings across rounds; VERDICT r3 finding #1)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2024, 3, 1, 12, 0, 0, 123456)
    rows = {
        "event_id": [1, 2, 3],
        "ts": [base, base + datetime.timedelta(seconds=1), base + datetime.timedelta(hours=2)],
        "user_id": [10, 11, 12],
        "event_type": ["click", "view", "purchase"],
        "value": [1.5, 2.5, 3.5],
        "props": ["{}", "{}", "{}"],
    }
    results = {}
    for enc, ts_type in (("us", pa.timestamp("us")), ("ns", pa.timestamp("ns"))):
        d = tmp_path / enc
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array(rows["event_id"], pa.int64()),
                "ts": pa.array(rows["ts"], ts_type),
                "user_id": pa.array(rows["user_id"], pa.int64()),
                "event_type": pa.array(rows["event_type"], pa.string()),
                "value": pa.array(rows["value"], pa.float64()),
                "props": pa.array(rows["props"], pa.string()),
            }
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        df = load_table(spark, str(d), "events")
        assert df.schema["ts"].dataType.typeName().startswith("timestamp"), enc
        results[enc] = sorted(
            (r.event_id, r.ts.replace(tzinfo=None)) for r in df.select("event_id", "ts").collect()
        )
    assert results["us"] == results["ns"]
    assert results["us"][0][1] == base


def test_loader_schema_drift_fails_loudly(spark, tmp_path):
    """Fixture drift to an incompatible dtype names table+column+types
    in the error instead of failing twelve queries downstream."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    tbl = pa.table(
        {
            "r_regionkey": pa.array([0, 1], pa.int32()),
            "r_name": pa.array([b"x", b"y"], pa.binary()),  # drift: string -> binary
        }
    )
    pq.write_table(tbl, str(tmp_path / "region.parquet"))
    with pytest.raises(ValueError, match=r"region.*r_name.*string.*binary"):
        load_table(spark, str(tmp_path), "region")


def test_type_compat_families_and_array_elements():
    """The schema-drift checker must accept family siblings
    (float<->double, ts<->long — the load normalizes them), compare
    array ELEMENT types recursively (a blanket ArrayType pass hid
    element drift — round-4 advice), and reject real drift."""
    from pyspark.sql import types as T

    from query_processing_over_streaming_data_using_flink_spark.sources.catalog import _types_compatible

    assert _types_compatible(T.DoubleType(), T.FloatType())
    assert _types_compatible(T.TimestampType(), T.LongType())
    assert _types_compatible(
        T.ArrayType(T.FloatType()), T.ArrayType(T.DoubleType())
    )
    assert not _types_compatible(T.StringType(), T.BinaryType())
    assert not _types_compatible(
        T.ArrayType(T.FloatType()), T.ArrayType(T.StringType())
    )
    assert not _types_compatible(T.ArrayType(T.FloatType()), T.FloatType())


def test_websocket_topn_push():
    """End-to-end RFC-6455 check without Spark: handshake (accept-key
    verified against an independent computation), late-joiner replay,
    broadcast frame decode, and the plain-HTTP dashboard path."""
    import base64
    import hashlib
    import socket
    import struct

    from query_processing_over_streaming_data_using_flink_spark.streaming.websocket import (
        TopNWebSocketServer,
    )

    srv = TopNWebSocketServer(port=0)
    srv.start()
    try:
        srv.broadcast('{"timestamp": 1, "data": []}')  # pre-connect emission

        c = socket.create_connection(("127.0.0.1", srv.port), timeout=5)
        key = base64.b64encode(b"0123456789abcdef").decode()
        c.sendall(
            (
                f"GET / HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n"
                f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
                f"Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        resp = b""
        while b"\r\n\r\n" not in resp:
            resp += c.recv(4096)
        head, rest = resp.split(b"\r\n\r\n", 1)
        assert b"101" in head.split(b"\r\n")[0]
        want = base64.b64encode(
            hashlib.sha1((key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").encode()).digest()
        )
        assert want in head, "Sec-WebSocket-Accept mismatch"

        def read_frame(buf):
            while len(buf) < 2:
                buf += c.recv(4096)
            b0, ln = buf[0], buf[1] & 0x7F
            assert b0 == 0x81, "expected FIN TEXT frame"
            off = 2
            if ln == 126:
                while len(buf) < 4:
                    buf += c.recv(4096)
                ln, off = struct.unpack("!H", buf[2:4])[0], 4
            while len(buf) < off + ln:
                buf += c.recv(4096)
            return buf[off:off + ln].decode(), buf[off + ln:]

        # Late joiner gets the pre-connect payload replayed.
        msg, rest = read_frame(rest)
        assert msg == '{"timestamp": 1, "data": []}'

        payload = '{"timestamp": 2, "data": [{"rank": 1}]}' + "x" * 200  # 16-bit len path
        assert srv.broadcast(payload) == 1
        msg, rest = read_frame(rest)
        assert msg == payload

        # System-metrics channel (reference dashboard parity,
        # TPCHQuery3_StreamProcessor.java:713-869): periodic
        # {"type":"threads",...} frames with per-thread entries; they
        # must NOT displace the Top-N replay payload for late joiners.
        import json as _json

        srv.start_metrics_monitor(interval=0.2)
        msg, rest = read_frame(rest)
        doc = _json.loads(msg)
        assert doc["type"] == "threads" and doc["data"], doc
        assert {"id", "name", "state", "priority", "cpuTime"} <= set(doc["data"][0])
        assert srv.last_payload == payload, "metrics frame displaced the replay"

        # Pipeline DAG frame over the real socket: per-node counts
        # arrive intact and don't displace the Top-N replay either.
        from query_processing_over_streaming_data_using_flink_spark.streaming import sinks as _sinks

        stats = {
            "epoch": 3, "events": 42,
            "rows": {"c": 2, "o": 10, "l": 30, "co": 9, "r": 5},
        }
        srv.broadcast_aux(_sinks.pipeline_json_payload(3, stats=stats))
        while True:  # metrics monitor may interleave threads frames
            msg, rest = read_frame(rest)
            doc = _json.loads(msg)
            if doc["type"] == "pipeline":
                break
        assert doc["epoch"] == 3
        got = {n["id"]: n["count"] for n in doc["nodes"]}
        assert got["source"] == 42 and got["commit"] == 56
        assert srv.last_payload == payload
        c.close()

        # Plain GET serves the dashboard page; the page must carry the
        # DAG renderer the pipeline frames drive — the handler branch,
        # the container div, and the per-node count markup.
        h = socket.create_connection(("127.0.0.1", srv.port), timeout=5)
        h.sendall(b"GET / HTTP/1.1\r\nHost: x\r\n\r\n")
        page = b""
        while True:
            chunk = h.recv(4096)
            if not chunk:
                break
            page += chunk
        assert b"200 OK" in page and b"WebSocket" in page
        assert b'msg.type === "pipeline"' in page
        assert b'id="pipeline"' in page
        assert b"nodecount" in page and b"n.count" in page
        # Rank-change coloring (reference dashboard's rank animations).
        assert b"prevRanks" in page and b"color(r)" in page
        h.close()
    finally:
        srv.stop()


def test_orc_roundtrip(spark, tmp_path):
    """ORC write -> declared-schema read reproduces the table (the
    second native columnar format next to parquet)."""
    from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_orc_table

    src = load_table(spark, SF_SMOKE, "nation")
    path = str(tmp_path / "nation_orc")
    src.write.orc(path)
    back = load_orc_table(spark, path, "nation")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_text_corpus_ingestion(spark, tmp_path):
    """Raw text ingestion: per-file stable line numbers, all lines
    present."""
    from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_text_corpus

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("alpha\nbeta\ngamma\n")
    (d / "b.txt").write_text("uno\ndos\n")
    got = {
        (r["source_file"], r["line_no"]): r["line"]
        for r in load_text_corpus(spark, str(d)).collect()
    }
    assert got[("a.txt", 1)] == "alpha" and got[("a.txt", 3)] == "gamma"
    assert got[("b.txt", 2)] == "dos" and len(got) == 5
