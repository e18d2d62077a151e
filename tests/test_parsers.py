"""Parser unit tests — corpus modeled on the reference's own parser
tests (modules/syslogformat/tests/test_syslog_format.c)."""

from __future__ import annotations

import datetime

from pyspark.sql import Row

from syslog_ng_spark.operators.parsers import (
    csv_parser,
    date_parser,
    json_parser,
    kv_parser,
    kv_parser_quoted,
    linux_audit_parser,
    pattern_parser,
    syslog_parser_3164,
    syslog_parser_5424,
)


def test_3164_basic(spark):
    lines = spark.createDataFrame(
        [("<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed for lonvick on /dev/pts/8",)],
        "raw string",
    )
    row = syslog_parser_3164(lines, year=2003).collect()[0]
    assert row.facility == 4 and row.severity == 2
    assert row.host == "mymachine"
    assert row.program == "su"
    assert row.pid == 230
    assert row.message.startswith("'su root' failed")
    assert row.ts == datetime.datetime(2003, 10, 11, 22, 14, 15)


def test_3164_padded_day_no_pri_no_pid(spark):
    lines = spark.createDataFrame(
        [("Jan  5 03:04:05 web-01 cron: job started",)], "raw string"
    )
    row = syslog_parser_3164(lines, year=2024).collect()[0]
    # no <PRI> -> user.notice, log_msg_parse_pri's fallback
    # (syslog-format.c:96); default-facility/severity override it
    assert row.facility == 1 and row.severity == 5
    assert row.host == "web-01"
    assert row.program == "cron"
    assert row.pid is None
    assert row.ts == datetime.datetime(2024, 1, 5, 3, 4, 5)


def test_5424_full(spark):
    raw = (
        '<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog 111 ID47 '
        '[exampleSDID@32473 iut="3" eventSource="Application"][origin ip="10.0.0.1"] '
        "An application event log entry"
    )
    row = syslog_parser_5424(spark.createDataFrame([(raw,)], "raw string")).collect()[0]
    assert row.facility == 20 and row.severity == 5
    assert row.version == 1
    assert row.host == "mymachine.example.com"
    assert row.program == "evntslog"
    assert row.pid == 111
    assert row.msgid == "ID47"
    assert row.sdata["exampleSDID@32473.iut"] == "3"
    assert row.sdata["exampleSDID@32473.eventSource"] == "Application"
    assert row.sdata["origin.ip"] == "10.0.0.1"
    assert row.message == "An application event log entry"


def test_5424_nil_fields(spark):
    raw = "<34>1 2003-10-11T22:14:15Z - - - - - no host no app"
    row = syslog_parser_5424(spark.createDataFrame([(raw,)], "raw string")).collect()[0]
    assert row.host is None and row.program is None and row.pid is None
    assert row.sdata == {}
    assert row.message == "no host no app"


def test_csv_parser_quoted(spark):
    df = spark.createDataFrame([('a,"b,with,commas",c',)], "line string")
    row = csv_parser(df, "line", ["x", "y", "z"]).collect()[0]
    assert (row.x, row.y, row.z) == ("a", "b,with,commas", "c")


def test_kv_parser(spark):
    df = spark.createDataFrame([("user=alice action=login ok=1",)], "s string")
    row = kv_parser(df, "s").collect()[0]
    assert row.kv == {"user": "alice", "action": "login", "ok": "1"}


def test_kv_parser_quoted_values(spark):
    df = spark.createDataFrame([('msg="hello world" code=42',)], "s string")
    row = kv_parser_quoted(df, "s").collect()[0]
    assert row.kv == {"msg": "hello world", "code": "42"}


def test_json_parser(spark):
    df = spark.createDataFrame([('{"a": 1, "b": "x"}',)], "s string")
    row = json_parser(df, "s").collect()[0]
    assert row.sdata == {"a": "1", "b": "x"}


def test_date_parser(spark):
    df = spark.createDataFrame([("2024/01/05 10:20:30",)], "s string")
    row = date_parser(df, "s", "yyyy/MM/dd HH:mm:ss").collect()[0]
    assert row.ts == datetime.datetime(2024, 1, 5, 10, 20, 30)


def test_pattern_parser_first_match_wins(spark):
    df = spark.createDataFrame([("error disk full",), ("error high",), ("ok",)], "m string")
    rules = [("^error disk", "disk"), ("^error", "generic")]
    rows = {r.m: r.cls for r in pattern_parser(df, "m", rules, target="cls").collect()}
    assert rows == {"error disk full": "disk", "error high": "generic", "ok": "unknown"}


def test_csv_drop_invalid_drops_under_and_overfilled(spark):
    df = spark.createDataFrame(
        [(1, "a,b,c"), (2, "a,b"), (3, "a,b,c,d"), (4, ",,"), (5, "")],
        "id int, line string",
    )
    from syslog_ng_spark.operators.parsers import csv_parser

    out = csv_parser(df, "line", ["x", "y", "z"], drop_invalid=True).collect()
    assert sorted(r.id for r in out) == [1, 4]  # ',,' = three empty fields
    row = [r for r in out if r.id == 1][0]
    assert (row.x, row.y, row.z) == ("a", "b", "c")


def test_csv_greedy_last_column_swallows_rest(spark):
    df = spark.createDataFrame(
        [(1, "err,host=x,msg=a,b c"), (2, "plain")], "id int, line string"
    )
    from syslog_ng_spark.operators.parsers import csv_parser

    out = csv_parser(df, "line", ["etype", "rest"], greedy=True, drop_invalid=True).collect()
    assert len(out) == 1
    assert out[0].etype == "err"
    assert out[0].rest == "host=x,msg=a,b c"  # separators kept verbatim


def test_csv_quote_aware_default_path_still_works(spark):
    df = spark.createDataFrame([(1, '"a,b",c')], "id int, line string")
    from syslog_ng_spark.operators.parsers import csv_parser

    out = csv_parser(df, "line", ["x", "y"]).collect()
    assert (out[0].x, out[0].y) == ("a,b", "c")


def test_tags_parser_merges_setwise(spark):
    from syslog_ng_spark.operators.parsers import tags_parser

    df = spark.createDataFrame(
        [(1, " alpha, beta ,,alpha ", ["existing", "alpha"]), (2, "", ["x"])],
        "id int, taglist string, tags array<string>",
    )
    out = {r.id: r.tags for r in tags_parser(df, "taglist").collect()}
    assert out[1] == ["existing", "alpha", "beta"]  # trimmed, deduped, order kept
    assert out[2] == ["x"]


def test_tags_parser_without_existing_tags_column(spark):
    from syslog_ng_spark.operators.parsers import tags_parser

    df = spark.createDataFrame([(1, "a,b,a")], "id int, taglist string")
    out = tags_parser(df, "taglist").collect()
    assert out[0].tags == ["a", "b"]


def test_linux_audit_scanner_reference_cases(spark):
    """The reference's criterion suite for the audit hexdump transform
    (modules/kvformat/tests/test_linux_audit_scanner.c), line for line:
    decode only when a hexcoded field's bytes include something the
    kernel escapes (<0x21, >0x7e, '"'); NUL becomes tab; odd-length,
    all-printable, invalid-UTF-8, unknown-field, and quoted values all
    stay raw."""
    cases = [
        ("proctitle=41607E", {"proctitle": "41607E"}),
        ("proctitle=412042", {"proctitle": "A B"}),
        (
            "proctitle=C3A17276C3AD7A74C5B172C59174C3BC6BC3B67266C3BA72C3B367C3A970",
            {"proctitle": "árvíztűrőtükörfúrógép"},
        ),
        (
            "proctitle=2F62696E2F7368002D65002F6574632F696E69742E642F706F737466697800737461747573",
            {"proctitle": "/bin/sh\t-e\t/etc/init.d/postfix\tstatus"},
        ),
        ("a1=2F62696E2F7368202D6C", {"a1": "/bin/sh -l"}),
        ("proctitle=41204", {"proctitle": "41204"}),
        (
            'type=SYSCALL msg=audit(1436259640.156:596): arch=c000003e comm="cat" exit=0',
            {
                "type": "SYSCALL",
                "msg": "audit(1436259640.156:596):",
                "arch": "c000003e",
                "comm": "cat",
                "exit": "0",
            },
        ),
        ("data=FFFE41", {"data": "FFFE41"}),
        ("other=412042", {"other": "412042"}),
        ('comm="412042"', {"comm": "412042"}),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "line string")
    got = {r.line: dict(r.kv) for r in linux_audit_parser(df, "line").collect()}
    for line, want in cases:
        for k, v in want.items():
            assert got[line].get(k) == v, f"{line!r}[{k}]: {got[line].get(k)!r} != {v!r}"


def test_journal_export_parser(spark):
    """Journal export format: blank-line record separation, field→macro
    mapping (journal-reader.c), SYSLOG_IDENTIFIER→_COMM program
    fallback, '.journald.' sdata prefix, µs timestamp, and lines
    without '=' (binary fields) skipped."""
    import datetime

    from syslog_ng_spark.operators.parsers import (
        journal_export_parser,
        journal_export_records,
    )

    blob = (
        "__REALTIME_TIMESTAMP=1704067200123456\n"
        "PRIORITY=3\nSYSLOG_FACILITY=4\n_HOSTNAME=web-01\n"
        "SYSLOG_IDENTIFIER=sshd\n_PID=1234\nMESSAGE=login failed\n"
        "\n"
        "__REALTIME_TIMESTAMP=1704067201000000\n"
        "PRIORITY=6\n_HOSTNAME=web-02\n_COMM=cron\n_PID=77\n"
        "BINARYISH\nMESSAGE=job done\n"
    )
    df = spark.createDataFrame([(blob,)], "blob string")
    rows = sorted(
        journal_export_parser(journal_export_records(df, "blob")).collect(),
        key=lambda r: r.pid,
    )
    a, b = rows[1], rows[0]
    assert a.host == "web-01" and a.program == "sshd" and a.pid == 1234
    assert a.severity == 3 and a.facility == 4 and a.message == "login failed"
    assert a.ts == datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)
    assert a.sdata[".journald.SYSLOG_IDENTIFIER"] == "sshd"
    assert b.program == "cron"  # _COMM fallback
    assert b.facility is None
    assert ".journald.BINARYISH" not in b.sdata  # no '=' -> skipped


# --- single-pass staging (parsers._single_pass_groups) -------------------


def _regex_copies(df, regex: str) -> int:
    """How often the regex literal appears in the optimized plan: every
    copy is one more execution per row."""
    return df._jdf.queryExecution().optimizedPlan().toString().count(regex)


def test_3164_message_keeps_separator(spark):
    from syslog_ng_spark.operators.parsers import _SEP

    lines = spark.createDataFrame(
        [(f"<14>Mar  1 00:00:00 h1 app[7]: head{_SEP}tail part",)], "raw string"
    )
    row = syslog_parser_3164(lines).collect()[0]
    assert row.message == f"head{_SEP}tail part"
    assert (row.host, row.program, row.pid) == ("h1", "app", 7)


def test_5424_message_keeps_separator(spark):
    from syslog_ng_spark.operators.parsers import _SEP

    raw = f'<165>1 2003-10-11T22:14:15Z h1 app 111 ID47 [a@1 k="v{_SEP}w"] head{_SEP}tail'
    row = syslog_parser_5424(spark.createDataFrame([(raw,)], "raw string")).collect()[0]
    assert row.message == f"head{_SEP}tail"
    assert row.sdata == {"a@1.k": f"v{_SEP}w"}
    assert (row.host, row.program, row.pid, row.msgid) == ("h1", "app", 111, "ID47")


def test_separator_in_earlier_group_or_unmatched_line(spark):
    """A separator inside HOST must not shift PROGRAM/PID (the pid cast
    used to fail the whole job under ANSI), and a non-matching line
    holding one must parse as no match."""
    from syslog_ng_spark.operators.parsers import _SEP

    lines = spark.createDataFrame(
        [(f"<14>Mar  1 00:00:00 h{_SEP}1 app[7]: x",), (f"junk{_SEP}tail",)], "raw string"
    )
    rows = {r.message: r for r in syslog_parser_3164(lines).collect()}
    assert (rows["x"].host, rows["x"].program, rows["x"].pid) == (f"h{_SEP}1", "app", 7)
    assert rows[""].host is None and rows[""].pid is None and rows[""].ts is None


def test_single_pass_groups_matches_per_column_extract(spark):
    """The staged group array equals the per-column regexp_extract form
    for all five callers' regexes, on matching, non-matching, NULL,
    empty and separator/escape-carrying lines."""
    from pyspark.sql import functions as F

    from syslog_ng_spark.operators.app_parsers import _APACHE_RE, _CISCO_RE
    from syslog_ng_spark.operators.parsers import (
        _ESC,
        _SEP,
        RFC3164_RE,
        RFC5424_RE,
        _single_pass_groups,
    )
    from syslog_ng_spark.operators.urltools import URL_RE

    s, e = _SEP, _ESC
    lines = [
        "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed",
        "Jan  5 03:04:05 web-01 cron: job started",
        f"<14>Mar  1 00:00:00 h1 app[7]: head{s}tail part",
        f"<14>Mar  1 00:00:00 h{s}1 a{e}pp: x{e}\x1c{s}{e}\x1d",
        '<165>1 2003-10-11T22:14:15.003Z host app 111 ID47 [a@1 k="v"] msg',
        f'<34>1 2003-10-11T22:14:15Z h{e}{s} - - - [a@1 k="{s}"] m{s}{e}',
        "<34>1 2003-10-11T22:14:15Z - - - - -",
        'vh:443 127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 2326',
        f'127.0.0.1 - fr{s}ank [10/Oct/2000:13:55:36 -0700] "GET /{e} HTTP/1.0" 200 - '
        f'"ref{s}" "agent{s}tail"',
        "<189>123: *Mar  1 18:46:11.299: %SYS-5-CONFIG_I: Configured from console",
        f"%LINK-3-UPDOWN: Interface Fa0/1{s}down{e}",
        "HTTPS://WWW.Example.COM:443/Path?utm_source=x&q=1#frag",
        f"https://u:p@ex{s}ample.com:8080/p{e}ath?q={s}1#f{s}",
        f"junk{s}more{e}\x1d",
        f"{s}{s}{s}{s}{s}{s}{s}{s}{s}{s}",
        "",
        None,
    ]
    df = spark.createDataFrame([(x,) for x in lines], "line string")
    cases = {"rfc3164": (RFC3164_RE, 6), "rfc5424": (RFC5424_RE, 9),
             "apache": (_APACHE_RE, 11), "cisco": (_CISCO_RE, 8), "url": (URL_RE, 5)}
    staged = df
    for name, (regex, n) in cases.items():
        staged = _single_pass_groups(staged, F.col("line"), regex, n, name)
        staged = staged.withColumn(
            "want_" + name,
            F.when(
                F.col("line").rlike(regex),
                F.array(*[F.regexp_extract("line", regex, i) for i in range(1, n + 1)]),
            ),
        )
    rows = staged.collect()
    assert len(rows) == len(lines)
    matched = 0
    for r in rows:
        for name in cases:
            assert r[name] == r["want_" + name], (name, r.line)
            matched += r[name] is not None
    assert matched == 13  # every regex sees lines it matches, not only misses


def test_parse_under_filter_runs_regex_once(spark):
    """A filter on parsed fields is pushed below the parse projection;
    the regex must still appear once in the optimized plan, not once per
    predicate reference."""
    from pyspark.sql import functions as F

    from syslog_ng_spark.operators.parsers import RFC3164_RE, RFC5424_RE

    df = spark.createDataFrame([("<14>Mar  1 00:00:00 h1 app[7]: x",)], "raw string")
    bsd = syslog_parser_3164(df).where(
        (F.col("severity") <= 6) & (F.col("facility") != 9) & F.col("host").isNotNull()
    )
    assert _regex_copies(bsd, RFC3164_RE) == 1
    assert bsd.count() == 1
    ietf = syslog_parser_5424(df).where((F.col("severity") <= 6) & (F.col("facility") != 9))
    assert _regex_copies(ietf, RFC5424_RE) == 1


def test_conf_level_facility_pipeline_runs_regex_once(spark, tmp_path):
    """The conf log path's source parse followed by level() and
    facility() filters keeps one parse regex in the optimized plan."""
    from syslog_ng_spark.config import build_pipeline, compile_conf, parse_conf
    from syslog_ng_spark.operators.parsers import RFC3164_RE

    src = tmp_path / "in.log"
    src.write_text(
        "<11>Jan  5 10:00:01 web-1 nginx[100]: GET /admin\n"
        "<78>Jan  5 10:00:04 db-1 cron[7]: job ran\n"
        "<14>Jan  5 10:00:02 web-1 nginx[100]: GET /index\n"
    )
    (spec,) = compile_conf(parse_conf(f"""
source s {{ file("{src}"); }};
filter f {{ level(info..emerg) and not facility(cron); }};
destination d {{ file("{tmp_path / 'out'}"); }};
log {{ source(s); filter(f); destination(d); }};
"""))
    df = build_pipeline(spark, spec)
    assert _regex_copies(df, RFC3164_RE) == 1
    assert sorted(r.severity for r in df.collect()) == [3, 6]


def test_streaming_parse_under_filter(spark, tmp_path):
    """file_stream -> parser -> filter, availableNow: the streaming plan
    keeps one parse regex and the filter sees the parsed fields."""
    from pyspark.sql import functions as F

    from syslog_ng_spark.operators.parsers import _SEP, RFC3164_RE
    from syslog_ng_spark.sources.streaming import file_stream

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.log").write_text(
        "<11>Jan  5 10:00:01 web-1 nginx[100]: boom\n"
        f"<14>Jan  5 10:00:02 web-1 nginx[100]: fine{_SEP}tail\n"
        f"junk{_SEP}line\n"
    )
    parsed = syslog_parser_3164(file_stream(spark, str(src))).where(F.col("severity") <= 4)
    q = (
        parsed.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        plan = q._jsq.streamingQuery().lastExecution().optimizedPlan().toString()
    finally:
        q.stop()
    assert plan.count(RFC3164_RE) == 1
    out = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [(r.severity, r.host, r.message) for r in out] == [(3, "web-1", "boom")]
