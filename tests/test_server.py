"""MySQL wire protocol: packet-layer unit tests + an end-to-end
server/client round trip against the Engine.

Reference parity: doradb-protocol tests its handshake/resultset serde
in-crate (handshake.rs, resultset.rs golden bytes) and doradb-server
serves it over TCP (serve_tcp.rs:47). Here the protocol layer is
round-tripped bytes-for-bytes, then a real socket session runs TPC-H
through the full stack: handshake → mysql_native_password auth →
COM_QUERY → text resultset.
"""

from __future__ import annotations

import pytest

from xngin_spark.server import protocol as P

SF = "/root/testdata/sf0.001"


# ---- packet layer (no Spark) ----------------------------------------------


def test_lenenc_int_roundtrip():
    for n in (0, 1, 0xFA, 0xFB, 0xFF, 0xFFFF, 0x10000, 0xFFFFFF, 0x1000000, 2**40):
        buf = P.lenenc_int(n)
        v, pos = P.read_lenenc_int(buf, 0)
        assert (v, pos) == (n, len(buf))


def test_lenenc_str_roundtrip():
    for s in (b"", b"x", b"a" * 300, b"\x00\xfb\xff"):
        v, pos = P.read_lenenc_str(P.lenenc_str(s), 0)
        assert v == s


def test_native_password_scramble_is_involutive_check():
    nonce = bytes(range(20))
    tok = P.native_password_scramble("secret", nonce)
    assert len(tok) == 20
    assert P.verify_native_password("secret", nonce, tok)
    assert not P.verify_native_password("wrong", nonce, tok)
    assert P.native_password_scramble("", nonce) == b""


def test_handshake_packets_roundtrip():
    nonce = bytes(range(1, 21))
    hs = P.build_handshake_v10(7, nonce)
    assert hs[0] == 0x0A
    assert P.AUTH_PLUGIN in hs
    # client response parses back
    import struct

    caps = P.CLIENT_PROTOCOL_41 | P.CLIENT_SECURE_CONNECTION | P.CLIENT_PLUGIN_AUTH
    auth = P.native_password_scramble("pw", nonce)
    resp = (
        struct.pack("<II", caps, 1 << 24)
        + bytes([P.CHARSET_UTF8MB4])
        + b"\x00" * 23
        + b"alice\x00"
        + bytes([len(auth)])
        + auth
        + P.AUTH_PLUGIN
        + b"\x00"
    )
    parsed = P.parse_handshake_response(resp)
    assert parsed.username == "alice"
    assert parsed.auth_response == auth
    assert parsed.auth_plugin == "mysql_native_password"


def test_text_row_roundtrip():
    row = [b"1", None, b"hello", b"", b"3.14"]
    assert P.parse_text_row(P.build_text_row(row), len(row)) == row


def test_ok_err_eof_discriminators():
    assert P.is_ok(P.build_ok())
    assert P.is_err(P.build_err(1064, "boom"))
    assert P.is_eof(P.build_eof())
    errno, msg = P.parse_err(P.build_err(1045, "denied", "28000"))
    assert errno == 1045 and "denied" in msg


# ---- end-to-end over a real socket ----------------------------------------


@pytest.fixture(scope="module")
def served_engine(spark):
    from xngin_spark.engine import Engine
    from xngin_spark.server import MySQLServer

    eng = Engine(SF, spark=spark)
    with MySQLServer(eng, users={"root": "", "alice": "s3cret"}) as srv:
        yield srv


def _connect(srv, **kw):
    from xngin_spark.server.client import connect

    return connect(srv.host, srv.port, **kw)


def test_e2e_handshake_ping_and_scalar(served_engine):
    with _connect(served_engine) as conn:
        assert conn.ping()
        names, rows = conn.query("SELECT 1 AS one, 'x' AS s, NULL AS n")
        assert names == ["one", "s", "n"]
        assert rows == [["1", "x", None]]


def test_e2e_password_auth(served_engine):
    with _connect(served_engine, user="alice", password="s3cret") as conn:
        assert conn.ping()
    from xngin_spark.server.client import MySQLError

    with pytest.raises(MySQLError) as ei:
        _connect(served_engine, user="alice", password="nope")
    assert ei.value.errno == 1045
    with pytest.raises(MySQLError):
        _connect(served_engine, user="mallory", password="")


def test_e2e_tpch_over_the_wire(served_engine, spark, oracle_con):
    # the engine's SQL surface through the socket must match the same
    # query run directly — including the reference dialect shims
    sql = (
        "SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS BIGINT)"
        " AS sum_qty FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"
    )
    with _connect(served_engine) as conn:
        names, rows = conn.query(sql)
    assert names == ["l_returnflag", "l_linestatus", "sum_qty"]
    direct = served_engine.engine.sql(sql).collect()
    assert len(rows) == len(direct) > 0
    for wire, local in zip(rows, direct):
        assert wire[0] == local[0] and wire[1] == local[1]
        assert int(wire[2]) == local[2]


def test_e2e_error_packet_not_hangup(served_engine):
    from xngin_spark.server.client import MySQLError

    with _connect(served_engine) as conn:
        with pytest.raises(MySQLError) as ei:
            conn.query("SELECT definitely_not_a_column FROM lineitem")
        assert ei.value.errno == 1064
        # connection stays alive after an ERR packet
        assert conn.ping()
        names, rows = conn.query("SELECT COUNT(*) AS n FROM lineitem")
        assert int(rows[0][0]) > 0


def test_e2e_null_and_type_rendering(served_engine):
    with _connect(served_engine) as conn:
        names, rows = conn.query(
            "SELECT CAST(1.5 AS DOUBLE) AS d, DATE'2024-01-02' AS dt,"
            " TIMESTAMP'2024-01-02 03:04:05' AS ts,"
            " CAST(NULL AS BIGINT) AS miss"
        )
    d, dt, ts, miss = rows[0]
    assert float(d) == 1.5
    assert dt == "2024-01-02"
    assert ts.startswith("2024-01-02 03:04:05")
    assert miss is None


def test_e2e_com_field_list(served_engine):
    # COM_FIELD_LIST (0x04) — MyCmd::FieldList analog
    # (doradb-protocol/src/mysql/cmd/mod.rs:89-92): column-definition
    # packets for the named table, optional LIKE wildcard, EOF-terminated
    with _connect(served_engine) as conn:
        cols = conn.field_list("nation")
        assert cols == ["n_nationkey", "n_name", "n_regionkey"]
        assert conn.field_list("nation", "n_n%") == ["n_nationkey", "n_name"]
        assert conn.field_list("nation", "nope%") == []
        # the connection stays usable for normal queries afterwards
        names, rows = conn.query("SELECT COUNT(*) AS n FROM nation")
        assert names == ["n"] and int(rows[0][0]) > 0


def test_e2e_com_field_list_unknown_table_errs(served_engine):
    from xngin_spark.server.client import MySQLError

    with _connect(served_engine) as conn:
        with pytest.raises(MySQLError) as ei:
            conn.field_list("no_such_table")
        assert ei.value.errno == 1146
        with pytest.raises(MySQLError) as ei2:
            conn.field_list("bad;name")
        assert ei2.value.errno == 1103
        assert conn.ping()


def test_compat_rewrite_unit():
    from xngin_spark.server.compat import rewrite

    # recognized MySQL session SETs absorb to OK (None)
    for s in ("SET NAMES utf8mb4", "set autocommit=1",
              "SET SESSION sql_mode='ANSI'", "SET character_set_results=NULL",
              "SET @@session.wait_timeout=100"):
        assert rewrite(s) is None, s
    # Spark conf SETs pass through untouched
    assert rewrite("SET spark.sql.shuffle.partitions=8") is not None
    # sysvars become literals, unknown ones NULL, DATABASE() the schema
    out = rewrite("select @@version_comment, @@autocommit, @@no_such_var, DATABASE()", "corpus")
    assert out == "select 'xngin-spark', 1, NULL, 'corpus'"


def test_e2e_mysql_client_opening_handshake(served_engine):
    # the statements a stock mysql CLI / connector issues on connect
    # must all succeed over the wire
    with _connect(served_engine) as conn:
        names, rows = conn.query("select @@version_comment limit 1")
        assert rows == [["xngin-spark"]]
        assert conn.query("SET NAMES utf8mb4") == ([], [])
        assert conn.query("SET autocommit=1") == ([], [])
        _, rows = conn.query("SELECT DATABASE()")
        assert len(rows) == 1
        _, rows = conn.query("select @@max_allowed_packet")
        assert rows == [["67108864"]]
        # and real queries still work afterwards
        _, rows = conn.query("SELECT COUNT(*) AS n FROM nation")
        assert int(rows[0][0]) > 0


# ---- prepared statements (binary protocol) ---------------------------------


def test_substitute_params_unit():
    assert P.count_placeholders("SELECT ? WHERE a = '?' AND b = ?") == 2
    got = P.substitute_params(
        "SELECT ? WHERE a = '?''?' AND b = ?", ["1", "'x'"]
    )
    assert got == "SELECT 1 WHERE a = '?''?' AND b = 'x'"


def test_binary_row_roundtrip_unit():
    import datetime as dt

    typed = [
        (P.TYPE_LONGLONG, 42),
        (P.TYPE_DOUBLE, 1.5),
        (P.TYPE_VAR_STRING, b"abc"),
        (P.TYPE_LONGLONG, None),
        (P.TYPE_DATE, dt.date(2024, 1, 2)),
        (P.TYPE_DATETIME, dt.datetime(2024, 1, 2, 3, 4, 5, 6)),
        (P.TYPE_TINY, 1),
    ]
    row = P.build_binary_row(typed)
    back = P.parse_binary_row(row, [t for t, _ in typed])
    assert back == [42, 1.5, b"abc", None, dt.date(2024, 1, 2),
                    dt.datetime(2024, 1, 2, 3, 4, 5, 6), 1]


def test_e2e_stmt_prepare_execute_typed(served_engine):
    """Prepared TPC-H over the binary protocol: typed params bind, the
    binary rows decode to NATIVE types, and the result matches the
    same query run directly through the engine."""
    sql = (
        "SELECT l_returnflag, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,"
        " CAST(SUM(l_discount) AS DOUBLE) AS sum_disc"
        " FROM lineitem WHERE l_quantity < ? AND l_returnflag <> ?"
        " GROUP BY 1 ORDER BY 1"
    )
    with _connect(served_engine) as conn:
        stmt_id, n_params, n_cols = conn.stmt_prepare(sql)
        assert (n_params, n_cols) == (2, 3)
        names, rows = conn.stmt_execute(stmt_id, (30, "Z"))
        conn.stmt_close(stmt_id)
    assert names == ["l_returnflag", "sum_qty", "sum_disc"]
    direct = served_engine.engine.sql(
        sql.replace("?", "30", 1).replace("?", "'Z'", 1)
    ).collect()
    assert len(rows) == len(direct) > 0
    for wire, local in zip(rows, direct):
        assert wire[0] == local[0].encode()
        assert wire[1] == local[1]            # native int off the wire
        assert wire[2] == pytest.approx(local[2])  # native double


def test_e2e_stmt_reexecute_and_null_param(served_engine):
    with _connect(served_engine) as conn:
        stmt_id, n_params, _ = conn.stmt_prepare(
            "SELECT COUNT(*) AS n FROM orders WHERE o_custkey = ?"
        )
        assert n_params == 1
        _, r1 = conn.stmt_execute(stmt_id, (1,))
        _, r2 = conn.stmt_execute(stmt_id, (2,))        # handle re-use
        _, rnull = conn.stmt_execute(stmt_id, (None,))  # NULL bitmap path
        conn.stmt_close(stmt_id)
        # connection + statement registry stay healthy afterwards
        assert conn.ping()
    assert r1[0][0] >= 0 and r2[0][0] >= 0
    assert rnull[0][0] == 0  # o_custkey = NULL matches nothing


def test_e2e_stmt_unknown_id_errs_not_hangup(served_engine):
    from xngin_spark.server.client import MySQLError

    with _connect(served_engine) as conn:
        with pytest.raises(MySQLError) as ei:
            conn.stmt_execute(9999, ())
        assert ei.value.errno == 1243
        assert conn.ping()


def test_e2e_stmt_no_params_and_date_types(served_engine):
    import datetime as dt

    with _connect(served_engine) as conn:
        stmt_id, n_params, n_cols = conn.stmt_prepare(
            "SELECT DATE'2024-01-02' AS d,"
            " TIMESTAMP'2024-01-02 03:04:05.000006' AS ts,"
            " CAST(NULL AS BIGINT) AS miss"
        )
        assert n_params == 0 and n_cols == 3
        names, rows = conn.stmt_execute(stmt_id)
        conn.stmt_close(stmt_id)
    assert names == ["d", "ts", "miss"]
    assert rows == [[dt.date(2024, 1, 2),
                     dt.datetime(2024, 1, 2, 3, 4, 5, 6), None]]


def test_e2e_concurrent_clients(served_engine):
    """The server's one-thread-per-connection model under real
    concurrency: 6 clients issue interleaved text queries and prepared
    statements simultaneously; every client must get its own correct
    answers (no cross-connection statement-id or resultset bleed)."""
    import threading

    errors: list = []

    def worker(wid: int) -> None:
        try:
            with _connect(served_engine) as conn:
                for i in range(5):
                    names, rows = conn.query(
                        f"SELECT {wid} AS w, {i} AS i, {wid} * 100 + {i} AS v"
                    )
                    assert rows == [[str(wid), str(i), str(wid * 100 + i)]], (
                        wid, i, rows)
                    sid, n_params, _ = conn.stmt_prepare(
                        "SELECT ? + ? AS s"
                    )
                    assert n_params == 2
                    _, prows = conn.stmt_execute(sid, [wid, i])
                    assert prows == [[wid + i]], (wid, i, prows)
                    conn.stmt_close(sid)
        except Exception as e:  # propagate to the main thread
            errors.append((wid, repr(e)))

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors


def test_e2e_xngin_reorder_sysvar(served_engine, monkeypatch):
    """xngin_reorder selects this connection's DPhyp route — 0 off,
    1 always, 2/AUTO cost-gated (the DEFAULT, matching the
    reference's reorder-in-every-pipeline posture, session.rs).
    Observed by spying the dphyp_sql entry in-process (the server
    runs in a thread), result-checked against the plain run, and
    isolated per connection."""
    from xngin_spark.plans import sqlreorder

    calls: list[tuple[str, str]] = []
    real = sqlreorder.dphyp_sql

    def spy(spark, sql, mode="always"):
        calls.append((sql, mode))
        return real(spark, sql, mode=mode)

    monkeypatch.setattr(sqlreorder, "dphyp_sql", spy)

    sql = (
        "SELECT n_name, COUNT(*) AS cnt"
        " FROM customer, nation, region"
        " WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey"
        " GROUP BY n_name ORDER BY n_name"
    )
    with _connect(served_engine) as conn:
        # fresh connection: the default is auto (2)
        _, rows = conn.query("SELECT @@xngin_reorder AS r")
        assert rows == [["2"]]
        _, auto_rows = conn.query(sql)
        assert calls and calls[-1] == (sql, "auto")

        conn.query("SET xngin_reorder = 0")
        _, rows = conn.query("SELECT @@xngin_reorder AS r")
        assert rows == [["0"]]
        n = len(calls)
        _, plain = conn.query(sql)
        assert len(calls) == n  # off -> plain spark.sql
        assert auto_rows == plain and len(plain) > 0

        conn.query("SET xngin_reorder = 1")
        _, rows = conn.query("SELECT @@xngin_reorder AS r")
        assert rows == [["1"]]
        _, reordered = conn.query(sql)
        assert calls[-1] == (sql, "always")
        assert reordered == plain

        conn.query("SET SESSION xngin_reorder = OFF")
        n = len(calls)
        conn.query(sql)
        assert len(calls) == n

        conn.query("SET xngin_reorder = AUTO")
        _, rows = conn.query("SELECT @@xngin_reorder AS r")
        assert rows == [["2"]]

    # a fresh connection starts back at the auto default, isolated
    # from the first connection's OFF
    with _connect(served_engine) as conn2:
        _, rows = conn2.query("SELECT @@xngin_reorder AS r")
        assert rows == [["2"]]
        conn2.query(sql)
        assert calls[-1] == (sql, "auto")


def test_stmt_prepare_runs_no_spark_job(served_engine, spark):
    """COM_STMT_PREPARE only analyzes ("nothing executes until
    COM_STMT_EXECUTE"): the metadata probe of a q5 text with constants
    new to the session must not run the reorder gate's NDV job."""
    import random
    import socket

    from xngin_spark.queries import ORACLE, load_all

    load_all()
    day = random.Random().randint(2, 28)
    sql = ORACLE["q5"].replace("1996-01-01 00:00:00", f"1996-01-{day:02d} 00:00:00")
    sc = spark.sparkContext
    gid = f"stmt-prepare-{day}-{random.Random().getrandbits(32)}"
    server_end, client_end = socket.socketpair()
    stmts: dict = {}
    sc.setJobGroup(gid, gid)
    try:
        served_engine._stmt_prepare(server_end, 0, sql.encode(), stmts, [1])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        server_end.close()
        client_end.close()
    assert stmts[1]["sql"] == sql
    assert sc.statusTracker().getJobIdsForGroup(gid) == []
