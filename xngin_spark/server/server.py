"""MySQL-wire server loop over the Engine — the reference's
doradb-server/src/mysql/serve_tcp.rs:47 analog.

A threaded TCP server speaking the MySQL client/server protocol
(handshake + mysql_native_password auth + COM_QUERY text resultsets +
the prepared-statement binary protocol, see protocol.py): any stock
MySQL driver or CLI can connect and run the engine's SQL surface. Queries execute through ``Engine.sql`` (Spark
SQL + the reference-dialect shims), results stream back as text
resultset rows.

Threading model: the reference serves each connection on a fixed async
worker pool; here each connection gets a Python thread and the
underlying SparkSession schedules the actual work — Spark's scheduler
is already multi-tenant (FAIR/FIFO pools), so concurrent COM_QUERYs
interleave at the stage level exactly like concurrent notebook users.

Result sizes are capped (``max_rows``, default 10k) because a wire
protocol must not buffer an unbounded DataFrame on the driver — the
same reason the engine's own sinks write distributed. Clients needing
full exports should CREATE TABLE ... AS or write_parquet.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import os
import re
import socket
import struct
import threading

from pyspark.sql import DataFrame

from xngin_spark.server import protocol as P


def _type_byte(dtype: str) -> tuple[int, int]:
    """Spark simpleString dtype -> (mysql type byte, decimals)."""
    d = dtype.lower()
    if d in ("tinyint", "boolean"):
        return P.TYPE_TINY, 0
    if d in ("int", "bigint", "smallint", "long"):
        return P.TYPE_LONGLONG, 0
    if d in ("double", "float"):
        return P.TYPE_DOUBLE, 31
    if d.startswith("decimal"):
        scale = 0
        if "," in d:
            scale = int(d.split(",")[1].rstrip(")"))
        return P.TYPE_NEWDECIMAL, scale
    if d == "date":
        return P.TYPE_DATE, 0
    if d.startswith("timestamp"):
        return P.TYPE_DATETIME, 6
    return P.TYPE_VAR_STRING, 0  # strings, arrays, structs, binary


def _binary_value(type_byte: int, v: object) -> object:
    """Normalize a collected Spark value for the binary encoder: the
    encoder packs exactly what the column definition advertised, so
    values whose Python type doesn't match the advertised byte (DATE
    columns yielding datetime.date is fine; a VAR_STRING-advertised
    array yielding a list is not) are rendered to their text form."""
    if v is None:
        return None
    if type_byte in (P.TYPE_TINY, P.TYPE_LONGLONG):
        return int(v)
    if type_byte == P.TYPE_DOUBLE:
        return float(v)
    if type_byte in (P.TYPE_DATE, P.TYPE_DATETIME):
        return v
    return _render(v)


def _render(v: object) -> bytes | None:
    """Text-protocol value rendering (everything is a string on the wire)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return b"1" if v else b"0"
    if isinstance(v, bytes):
        return v
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f").encode()
    if isinstance(v, _dt.date):
        return v.isoformat().encode()
    if isinstance(v, decimal.Decimal):
        return str(v).encode()
    if isinstance(v, float):
        return repr(v).encode()
    return str(v).encode()


class MySQLServer:
    """Serve ``engine`` over the MySQL wire protocol on localhost."""

    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 0,
        users: dict[str, str] | None = None,
        max_rows: int = 10_000,
    ) -> None:
        self.engine = engine
        self.users = users if users is not None else {"root": ""}
        self.max_rows = max_rows
        self._sock = socket.create_server((host, port))
        self.host, self.port = self._sock.getsockname()[:2]
        self._closed = threading.Event()
        self._conn_id = 0
        self._threads: list[threading.Thread] = []
        self._accept_thread = threading.Thread(
            target=self._accept_loop, daemon=True, name="mysql-accept"
        )

    # ---- lifecycle ---------------------------------------------------------

    def start(self) -> "MySQLServer":
        self._accept_thread.start()
        return self

    def close(self) -> None:
        self._closed.set()
        try:
            self._sock.close()
        except OSError:
            pass
        for t in self._threads:
            t.join(timeout=5)

    def __enter__(self) -> "MySQLServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.close()

    def _accept_loop(self) -> None:
        while not self._closed.is_set():
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return  # socket closed
            self._conn_id += 1
            t = threading.Thread(
                target=self._serve_conn,
                args=(conn, self._conn_id),
                daemon=True,
                name=f"mysql-conn-{self._conn_id}",
            )
            self._threads.append(t)
            t.start()

    # ---- per-connection ----------------------------------------------------

    def _serve_conn(self, conn: socket.socket, conn_id: int) -> None:
        try:
            with conn:
                if not self._handshake(conn, conn_id):
                    return
                self._command_loop(conn)
        except (ConnectionError, OSError):
            pass  # client went away; nothing to clean up beyond the socket

    def _handshake(self, conn: socket.socket, conn_id: int) -> bool:
        nonce = os.urandom(20).replace(b"\x00", b"\x01")  # NUL-free scramble
        seq = P.write_packet(conn, 0, P.build_handshake_v10(conn_id, nonce))
        seq, payload = P.read_packet(conn)
        try:
            resp = P.parse_handshake_response(payload)
        except (ValueError, IndexError) as e:
            P.write_packet(conn, seq + 1, P.build_err(1043, f"bad handshake: {e}"))
            return False
        password = self.users.get(resp.username)
        if password is None or not (
            (password == "" and resp.auth_response == b"")
            or P.verify_native_password(password, nonce, resp.auth_response)
        ):
            P.write_packet(
                conn,
                seq + 1,
                P.build_err(
                    1045, f"Access denied for user '{resp.username}'", "28000"
                ),
            )
            return False
        P.write_packet(conn, seq + 1, P.build_ok())
        return True

    def _command_loop(self, conn: socket.socket) -> None:
        stmts: dict[int, dict] = {}  # prepared statements, per-connection
        next_stmt = [1]
        # per-connection engine session state — the reference builds its
        # plan pipeline per query from session sysvars (session.rs).
        # xngin_reorder: 0 = off, 1 = always, 2 = auto (cost-gated
        # DPhyp — the DEFAULT, matching the reference's
        # reorder-in-every-pipeline posture with the no-harm gate)
        session = {"reorder": 2}
        while not self._closed.is_set():
            seq, payload = P.read_packet(conn)
            if not payload:
                return
            cmd, body = payload[0], payload[1:]
            if cmd == P.COM_QUIT:
                return
            if cmd == P.COM_PING:
                P.write_packet(conn, seq + 1, P.build_ok())
            elif cmd == P.COM_INIT_DB:
                self._run_query(
                    conn, seq, f"USE {body.decode(errors='replace')}", session
                )
            elif cmd == P.COM_QUERY:
                self._run_query(
                    conn, seq, body.decode(errors="replace"), session
                )
            elif cmd == P.COM_FIELD_LIST:
                self._field_list(conn, seq, body)
            elif cmd == P.COM_STMT_PREPARE:
                self._stmt_prepare(conn, seq, body, stmts, next_stmt)
            elif cmd == P.COM_STMT_EXECUTE:
                self._stmt_execute(conn, seq, body, stmts, session)
            elif cmd == P.COM_STMT_CLOSE:
                # no response by spec
                if len(body) >= 4:
                    stmts.pop(int.from_bytes(body[:4], "little"), None)
            elif cmd == P.COM_STMT_RESET:
                P.write_packet(conn, seq + 1, P.build_ok())
            else:
                P.write_packet(
                    conn, seq + 1, P.build_err(1047, f"unsupported command {cmd:#x}")
                )

    # ---- prepared statements (binary protocol) -----------------------------

    def _stmt_prepare(
        self,
        conn: socket.socket,
        seq: int,
        body: bytes,
        stmts: dict[int, dict],
        next_stmt: list[int],
    ) -> None:
        """COM_STMT_PREPARE (0x16): register the SQL, count ``?``
        markers, and answer with result-set metadata obtained by
        ANALYZING the query with NULL bound to every marker — analysis
        only, nothing executes until COM_STMT_EXECUTE. Falls back to
        zero columns when NULL-analysis fails (e.g. a parameter in a
        position that changes the schema); drivers then take the
        metadata from the execute response."""
        sql = body.decode(errors="replace")
        n_params = P.count_placeholders(sql)
        fields: list = []
        # metadata-probe only read-only statements: Engine.sql runs
        # DDL/utility commands eagerly, and PREPARE must never execute
        if sql.lstrip().split(None, 1)[:1] and sql.lstrip().split(None, 1)[0].upper() in (
            "SELECT", "WITH", "VALUES", "TABLE", "EXPLAIN",
        ):
            try:
                probe = P.substitute_params(sql, ["NULL"] * n_params)
                from xngin_spark.server import compat

                rewritten = compat.rewrite(probe)
                # the schema does not depend on join order, and the
                # reorder gate would run its NDV job here
                df = self.engine.sql(rewritten, reorder=False) if rewritten else None
                if df is not None and df.columns:
                    fields = list(df.schema.fields)
            except Exception:
                fields = []
        stmt_id = next_stmt[0]
        next_stmt[0] += 1
        stmts[stmt_id] = {"sql": sql, "n_params": n_params, "types": None}
        seq = P.write_packet(
            conn, seq + 1, P.build_stmt_prepare_ok(stmt_id, len(fields), n_params)
        )
        if n_params:
            for _ in range(n_params):
                seq = P.write_packet(
                    conn, seq, P.build_column_definition("?", P.TYPE_VAR_STRING)
                )
            seq = P.write_packet(conn, seq, P.build_eof())
        if fields:
            for f in fields:
                tb, dec = _type_byte(f.dataType.simpleString())
                seq = P.write_packet(
                    conn, seq, P.build_column_definition(f.name, tb, dec)
                )
            P.write_packet(conn, seq, P.build_eof())

    @staticmethod
    def _sql_literal(v: object) -> str:
        """Render a decoded parameter as a SQL literal (bytes arrive
        from the wire as utf-8 text parameters). Backslashes must be
        escaped BEFORE quote-doubling: Spark's parser treats ``\\`` as
        an escape inside string literals, so a bare trailing backslash
        would swallow the closing quote and let parameter content
        escape into the surrounding statement."""
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return repr(v)
        s = v.decode(errors="replace") if isinstance(v, bytes) else str(v)
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    def _stmt_execute(
        self,
        conn: socket.socket,
        seq: int,
        body: bytes,
        stmts: dict[int, dict],
        session: dict | None = None,
    ) -> None:
        """COM_STMT_EXECUTE (0x17): bind the decoded parameters as SQL
        literals into the prepared text and run it through the same
        engine path as COM_QUERY, answering with a BINARY resultset.
        Literal substitution (rather than a plan cache keyed on the
        statement) is the honest mapping onto Spark: Catalyst folds the
        literals and there is no reusable physical plan handle to bind
        into — the protocol's contract to the client (typed binary
        rows, re-executable handle) is what matters on the wire."""
        if len(body) < 9:
            P.write_packet(conn, seq + 1, P.build_err(1064, "malformed execute"))
            return
        stmt_id = int.from_bytes(body[:4], "little")
        st = stmts.get(stmt_id)
        if st is None:
            P.write_packet(
                conn, seq + 1, P.build_err(1243, f"unknown statement {stmt_id}")
            )
            return
        try:
            _, types, values = P.parse_stmt_execute(
                body, st["n_params"], st["types"]
            )
            st["types"] = types
            bound = P.substitute_params(
                st["sql"], [self._sql_literal(v) for v in values]
            )
        except (ValueError, IndexError, struct.error) as e:
            P.write_packet(conn, seq + 1, P.build_err(1064, f"bad bind: {e}"))
            return
        from xngin_spark.server import compat

        rewritten = compat.rewrite(bound, None)
        if rewritten is None:
            P.write_packet(conn, seq + 1, P.build_ok())
            return
        try:
            df = self.engine.sql(
                rewritten,
                reorder=self._reorder_arg(session.get("reorder") if session else 2),
            )
            if df is None or not getattr(df, "columns", None):
                P.write_packet(conn, seq + 1, P.build_ok())
                return
            self._send_resultset(conn, seq, df, binary=True)
        except Exception as e:
            msg = str(e).split("\n", 1)[0][:400]
            P.write_packet(conn, seq + 1, P.build_err(1064, msg, "42000"))

    def _field_list(self, conn: socket.socket, seq: int, body: bytes) -> None:
        """COM_FIELD_LIST (0x04): NUL-terminated table name + optional
        LIKE wildcard; respond with one column-definition packet per
        (matching) column, then EOF — the ``MyCmd::FieldList`` surface
        (doradb-protocol/src/mysql/cmd/mod.rs:89-92) legacy clients
        (``mysql`` CLI tab-completion) still drive."""
        import fnmatch

        table, _, wildcard = body.partition(b"\x00")
        name = table.decode(errors="replace").strip()
        pat = wildcard.rstrip(b"\x00").decode(errors="replace")
        if not name.replace("_", "").replace(".", "").isalnum():
            P.write_packet(conn, seq + 1, P.build_err(1103, f"bad table name {name!r}", "42000"))
            return
        try:
            df = self.engine.sql(f"SELECT * FROM {name} LIMIT 0")
        except Exception as e:
            msg = str(e).split("\n", 1)[0][:400]
            P.write_packet(conn, seq + 1, P.build_err(1146, msg, "42S02"))
            return
        fields = df.schema.fields
        if pat:
            # SQL LIKE wildcard -> fnmatch (% -> *, _ -> ?)
            fn = pat.replace("%", "*").replace("_", "?")
            fields = [f for f in fields if fnmatch.fnmatch(f.name, fn)]
        seq += 1
        for f in fields:
            tb, dec = _type_byte(f.dataType.simpleString())
            seq = P.write_packet(
                conn,
                seq,
                P.build_column_definition(
                    f.name, tb, dec, table=name, with_default=True
                ),
            )
        P.write_packet(conn, seq, P.build_eof())

    #: SET [SESSION] xngin_reorder = 0|1|2|ON|OFF|TRUE|FALSE|AUTO (also
    #: the @@xngin_reorder / @@session.xngin_reorder spellings) — the
    #: engine sysvar selecting this connection's DPhyp route:
    #: 0/OFF/FALSE = plain, 1/ON/TRUE = always-rewrite, 2/AUTO =
    #: cost-gated (the default)
    _SET_REORDER = re.compile(
        r"(?i)^\s*SET\s+(?:SESSION\s+|@@(?:session\.)?)?xngin_reorder\s*=\s*"
        r"(0|1|2|ON|OFF|TRUE|FALSE|AUTO)\s*;?\s*$"
    )

    @staticmethod
    def _reorder_arg(v) -> "bool | str":
        """Map the sysvar's stored int to Engine.sql's reorder arg."""
        return {0: False, 1: True, 2: "auto"}.get(int(v or 0), False)
    _READ_REORDER = re.compile(r"(?i)@@(?:session\.)?xngin_reorder\b")

    def _run_query(
        self, conn: socket.socket, seq: int, sql: str, session: dict | None = None
    ) -> None:
        from xngin_spark.server import compat

        session = session if session is not None else {"reorder": 2}
        m = self._SET_REORDER.match(sql)
        if m:
            session["reorder"] = {
                "0": 0, "OFF": 0, "FALSE": 0,
                "1": 1, "ON": 1, "TRUE": 1,
                "2": 2, "AUTO": 2,
            }[m.group(1).upper()]
            P.write_packet(conn, seq + 1, P.build_ok())
            return
        sql = self._READ_REORDER.sub(
            str(int(session.get("reorder") or 0)), sql
        )
        try:
            current = self.engine.spark.catalog.currentDatabase()
        except Exception:
            current = None
        rewritten = compat.rewrite(sql, current)
        if rewritten is None:  # absorbed MySQL session SET -> plain OK
            P.write_packet(conn, seq + 1, P.build_ok())
            return
        try:
            df = self.engine.sql(
                rewritten, reorder=self._reorder_arg(session.get("reorder"))
            )
            if df is None or not getattr(df, "columns", None):
                P.write_packet(conn, seq + 1, P.build_ok())
                return
            self._send_resultset(conn, seq, df)
        except Exception as e:  # engine errors -> ERR packet, never a hangup
            msg = str(e).split("\n", 1)[0][:400]
            P.write_packet(conn, seq + 1, P.build_err(1064, msg, "42000"))

    def _send_resultset(
        self, conn: socket.socket, seq: int, df: DataFrame, binary: bool = False
    ) -> None:
        fields = df.schema.fields
        rows = df.limit(self.max_rows).collect()
        types = [_type_byte(f.dataType.simpleString())[0] for f in fields]
        seq = P.write_packet(conn, seq + 1, P.lenenc_int(len(fields)))
        for f in fields:
            tb, dec = _type_byte(f.dataType.simpleString())
            seq = P.write_packet(conn, seq, P.build_column_definition(f.name, tb, dec))
        seq = P.write_packet(conn, seq, P.build_eof())
        for row in rows:
            if binary:
                payload = P.build_binary_row(
                    [(t, _binary_value(t, v)) for t, v in zip(types, row)]
                )
            else:
                payload = P.build_text_row([_render(v) for v in row])
            seq = P.write_packet(conn, seq, payload)
        P.write_packet(conn, seq, P.build_eof())


def serve(engine, host: str = "127.0.0.1", port: int = 3306, **kw) -> MySQLServer:
    """Start serving ``engine`` and return the (started) server handle."""
    return MySQLServer(engine, host, port, **kw).start()
