"""SCL application parsers — corpora straight from the reference's
documented examples (scl/apache/apache.conf header comments,
IOS-style cisco lines, netfilter kernel lines)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from syslog_ng_spark.operators.app_parsers import (
    apache_accesslog_parser,
    cisco_parser,
    detect_app,
    ewmm_parser,
    iptables_parser,
    sudo_parser,
)


def test_apache_all_four_documented_formats(spark):
    lines = [
        'virtualhost:443 127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
        '"GET /apache_pb.gif HTTP/1.0" 200 2326 '
        '"http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)"',
        'virtualhost:443 127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
        '"GET /apache_pb.gif HTTP/1.0" 200 2326',
        '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
        '"GET /apache_pb.gif HTTP/1.0" 200 2326 '
        '"http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)"',
        '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
        '"GET /apache_pb.gif HTTP/1.0" 200 -',
    ]
    df = spark.createDataFrame([(line,) for line in lines], "message string")
    rows = apache_accesslog_parser(df, "message").collect()
    for r in rows:
        assert r.apache_clientip == "127.0.0.1"
        assert r.apache_ident == "-"  # '-' is a literal column value in the csv schema
    rows = {
        (r.apache_vhost, r.apache_referrer is not None, r.apache_bytes): r for r in rows
    }
    vc = rows[("virtualhost", True, 2326)]
    assert vc.apache_port == 443 and vc.apache_auth == "frank"
    assert vc.apache_verb == "GET" and vc.apache_request == "/apache_pb.gif"
    assert vc.apache_httpversion == "1.0" and vc.apache_response == 200
    assert vc.apache_agent.startswith("Mozilla/4.08")
    # -0700 offset -> 20:55:36 UTC
    assert vc.apache_ts == datetime.datetime(2000, 10, 10, 20, 55, 36)
    assert ("virtualhost", False, 2326) in rows  # vhost_common
    plain_dash = rows[(None, False, None)]  # common with '-' bytes
    assert plain_dash.apache_response == 200 and plain_dash.apache_bytes is None


def test_apache_ident_is_literal_dash(spark):
    df = spark.createDataFrame(
        [('127.0.0.1 ident42 frank [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 1',)],
        "message string",
    )
    r = apache_accesslog_parser(df, "message").collect()[0]
    assert r.apache_ident == "ident42"


def test_apache_nonmatching_line_yields_nulls(spark):
    df = spark.createDataFrame([("not an access log",)], "message string")
    r = apache_accesslog_parser(df, "message").collect()[0]
    assert r.apache_response is None and r.apache_clientip is None


def test_cisco_parser_forms(spark):
    lines = [
        "<189>123: *Mar  1 18:46:11.299: %SYS-5-CONFIG_I: Configured from console by vty2",
        "%LINK-3-UPDOWN: Interface FastEthernet0/1, changed state to down",
        "<190>Jan  5 2024 03:04:05: %SEC-6-IPACCESSLOGP: list 102 denied tcp",
        "<134>456: Feb 14 11:22:33 UTC: %FW-SESSION-6-SESS_AUDIT_TRAIL: Start tcp session",
    ]
    df = spark.createDataFrame([(line,) for line in lines], "raw string")
    rows = {r.cisco_mnemonic: r for r in cisco_parser(df, "raw").collect()}
    a = rows["CONFIG_I"]
    assert a.cisco_pri == 189 and a.cisco_facility_num == 23 and a.cisco_severity_num == 5
    assert a.cisco_seqno == 123 and a.cisco_facility == "SYS" and a.cisco_severity == 5
    assert a.cisco_ts.month == 3 and a.cisco_ts.second == 11
    b = rows["UPDOWN"]  # bare triplet, no pri/seq/ts
    assert b.cisco_pri is None and b.cisco_ts is None and b.cisco_facility == "LINK"
    c = rows["IPACCESSLOGP"]
    assert c.cisco_ts == datetime.datetime(2024, 1, 5, 3, 4, 5)
    d = rows["SESS_AUDIT_TRAIL"]  # 4-part triplet + tz abbrev in ts
    assert d.cisco_facility == "FW-SESSION" and d.cisco_severity == 6
    assert d.cisco_message == "Start tcp session"


def test_iptables_parser_strays_and_empty_values(spark):
    df = spark.createDataFrame(
        [
            (
                "IN=eth0 OUT= MAC=00:11:22 SRC=192.168.1.2 DST=10.0.0.1 LEN=60 "
                "PROTO=TCP SPT=51812 DPT=22 WINDOW=64240 SYN URGP=0",
            )
        ],
        "message string",
    )
    sd = dict(iptables_parser(df, "message").collect()[0].sdata)
    assert sd[".iptables.IN"] == "eth0"
    assert sd[".iptables.OUT"] == ""  # empty value survives
    assert sd[".iptables.SRC"] == "192.168.1.2"
    assert sd[".iptables.SPT"] == "51812"
    assert ".iptables.SYN" not in sd  # flag word = stray, skipped


def test_sudo_parser_strays_and_command_filter(spark):
    df = spark.createDataFrame(
        [
            ("   alice : TTY=pts/0 ; PWD=/home/alice ; USER=root ; COMMAND=/bin/ls -l /tmp",),
            ("pam_unix(sudo:session): session opened for user root",),
        ],
        "message string",
    )
    rows = sudo_parser(df, "message").collect()
    assert len(rows) == 1  # pam noise dropped (no COMMAND)
    sd = dict(rows[0].sdata)
    assert sd[".sudo.SUBJECT"] == "alice"
    assert sd[".sudo.TTY"] == "pts/0"
    assert sd[".sudo.COMMAND"] == "/bin/ls -l /tmp"  # inner spaces kept


def test_ewmm_parser_roundtrip_and_hop_by_hop(spark):
    df = spark.createDataFrame(
        [
            (
                "@syslog-ng",
                '{"MESSAGE":"real msg","HOST":"web-01","PROGRAM":"nginx",'
                '".custom.k":"v","._TAGS":"a,b"}',
            ),
            ("other", "plain text"),
        ],
        "program string, message string",
    )
    rows = {r.program: r for r in ewmm_parser(df).collect()}
    e = rows["@syslog-ng"]
    assert e.is_ewmm and e.ewmm_message == "real msg" and e.ewmm_host == "web-01"
    assert e.ewmm_program == "nginx" and e.ewmm_tags == ["a", "b"]
    assert dict(e.ewmm_sdata) == {".custom.k": "v"}  # ._TAGS consumed
    assert not rows["other"].is_ewmm and rows["other"].ewmm_message is None


def test_detect_app_first_match_rules(spark):
    df = spark.createDataFrame(
        [
            ("kernel", "IN=eth0 OUT= PROTO=TCP SPT=1"),
            ("sudo", "x : COMMAND=/bin/true"),
            ("@syslog-ng", "{}"),
            ("cron", "%SYS-5-CONFIG_I: done"),
            ("httpd", '1.2.3.4 - u [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 5'),
            ("x", '<134>{"_insertion_epoch_timestamp": 1}'),
            ("x", "Dec 19 10:48:57 h vendor=Websense action=permitted"),
            ("cron", "job ran"),
        ],
        "program string, message string",
    )
    got = [r.app for r in detect_app(df).collect()]
    assert got == [
        "iptables", "sudo", "ewmm", "cisco", "apache",
        "netskope", "websense", "unknown",
    ]


def test_fortigate_parser_kv_and_date(spark):
    from syslog_ng_spark.operators.app_parsers import fortigate_parser

    df = spark.createDataFrame(
        [
            ('date=2024-01-05 time=03:04:05 devname="FG100" level=warning msg="intrusion detected"',),
            ("unrelated line",),
        ],
        "message string",
    )
    rows = fortigate_parser(df).collect()
    fg = [r for r in rows if r.is_fortigate][0]
    assert fg.sdata[".fortigate.devname"] == "FG100"
    assert fg.sdata[".fortigate.msg"] == "intrusion detected"
    assert str(fg.fortigate_ts) == "2024-01-05 03:04:05"
    assert sum(1 for r in rows if r.is_fortigate) == 1


def test_checkpoint_parser_colon_semicolon_kv(spark):
    from syslog_ng_spark.operators.app_parsers import checkpoint_parser

    df = spark.createDataFrame(
        [("time:1577000000; product:VPN-1 & FireWall-1; action:Drop; src:1.2.3.4",)],
        "message string",
    )
    sd = dict(checkpoint_parser(df).collect()[0].sdata)
    assert sd[".checkpoint.product"] == "VPN-1 & FireWall-1"  # spaces kept
    assert sd[".checkpoint.action"] == "Drop"
    assert sd[".checkpoint.src"] == "1.2.3.4"


def test_osquery_parser_json_prefix(spark):
    from syslog_ng_spark.operators.app_parsers import osquery_parser

    df = spark.createDataFrame(
        [('{"name":"pack_proc","columns":{"pid":"42"}}',)], "message string"
    )
    sd = dict(osquery_parser(df).collect()[0].sdata)
    assert sd[".osquery.name"] == "pack_proc"
    assert sd[".osquery.columns"] == '{"pid":"42"}'  # nested keeps JSON rendering


def test_panos_parser_type_dispatch(spark):
    from syslog_ng_spark.operators.app_parsers import panos_parser

    lines = [
        "1,2024/01/05 03:04:05,001122,SYSTEM,general,x,2024/01/05 03:04:05,"
        "vsys1,general-ev,obj,a,b,general,informational,desc text,1234,0x0,"
        "1,2,3,4,vs1,fw-edge-01",
        "1,2024/01/05 03:04:05,001122,TRAFFIC,end,x,2024/01/05 03:04:05,"
        "10.1.1.2,8.8.8.8,0.0.0.0,0.0.0.0,allow-dns,u1,,dns,vsys1,trust,"
        "untrust,ae1,ae2,fwd,x,5555,1,53211,53,0,0,0x0,udp,allow,120,60,60,2,"
        "2024/01/05 03:03:00,5,any,x,77,0x0,US,US,x,1,1,aged-out,1,2,3,4,vs1,"
        "fw-edge-01",
        "weird,line",
    ]
    df = spark.createDataFrame([(line,) for line in lines], "message string")
    rows = [dict(r.sdata) for r in panos_parser(df).collect()]
    sys_row = next(r for r in rows if r.get(".panos.type") == "SYSTEM")
    assert sys_row[".panos.eventid"] == "general-ev"
    assert sys_row[".panos.severity"] == "informational"
    assert sys_row[".panos.device_name"] == "fw-edge-01"
    tr = next(r for r in rows if r.get(".panos.type") == "TRAFFIC")
    assert tr[".panos.src"] == "10.1.1.2" and tr[".panos.dport"] == "53"
    assert tr[".panos.session_end_reason"] == "aged-out"
    short = next(r for r in rows if r.get(".panos.type") is None)
    assert len(short) == 2  # only the two header fields the line has


def test_netskope_parser_pri_strip_and_filter(spark):
    from syslog_ng_spark.operators.app_parsers import netskope_parser

    line = (
        '<134>{"count": 1, "severity_level": 2, "timestamp": 1547421943, '
        '"_insertion_epoch_timestamp": 1547421943, "user": "user@domain.com", '
        '"audit_log_event": "Login Successful", "type": "admin_audit_logs"}'
    )
    df = spark.createDataFrame([(line,), ('<13>not netskope',)], "message string")
    rows = {r.message: r for r in netskope_parser(df, "message").collect()}
    r = rows[line]
    assert r.is_netskope
    assert r.sdata[".netskope.user"] == "user@domain.com"
    assert r.sdata[".netskope.audit_log_event"] == "Login Successful"
    assert r.sdata[".netskope._insertion_epoch_timestamp"] == "1547421943"
    assert not rows['<13>not netskope'].is_netskope


def test_websense_parser_conf_example(spark):
    from syslog_ng_spark.operators.app_parsers import websense_parser

    # the conf's own sample line (scl/websense/plugin.conf), shortened tail
    line = (
        "<159>Dec 19 10:48:57 EST 10.203.28.21 vendor=Websense product=Security "
        "product_version=7.7.0 action=permitted severity=1 user=- "
        "dst_host=mail.google.com dst_port=443 http_response=200 "
        "http_method=CONNECT url=https://mail.google.com"
    )
    df = spark.createDataFrame([(line,)], "raw string")
    r = websense_parser(df, "raw", year=2012).collect()[0]
    assert r.is_websense
    assert r.host == "10.203.28.21"
    assert r.program == "Websense"
    assert r.ts == datetime.datetime(2012, 12, 19, 10, 48, 57)
    assert r.sdata[".websense.vendor"] == "Websense"
    assert r.sdata[".websense.action"] == "permitted"
    assert r.sdata[".websense.http_response"] == "200"
    assert r.sdata[".websense.url"] == "https://mail.google.com"


def test_junos_parser_sd_filter(spark):
    from syslog_ng_spark.operators.app_parsers import junos_parser

    line = (
        "<14>1 2019-04-12T14:29:06.576Z - RT_FLOW - RT_FLOW_SESSION_CLOSE "
        '[junos@2636.1.1.1.2.129 reason="TCP FIN" source-address="10.3.255.203" '
        'destination-port="80" protocol-id="6"] session closed TCP FIN'
    )
    other = "<14>1 2019-04-12T14:29:06.576Z h app - - - plain message"
    df = spark.createDataFrame([(line,), (other,)], "raw string")
    rows = {r.msgid: r for r in junos_parser(df, "raw").collect()}
    r = rows["RT_FLOW_SESSION_CLOSE"]
    assert r.is_junos
    assert r.sdata["junos@2636.1.1.1.2.129.reason"] == "TCP FIN"
    assert r.sdata["junos@2636.1.1.1.2.129.destination-port"] == "80"
    assert not rows[None].is_junos


def test_solaris_msgid_extraction(spark):
    from syslog_ng_spark.operators.app_parsers import solaris_msgid_parser

    df = spark.createDataFrame(
        [
            ("[ID 702911 kern.notice] syncing file systems...",),
            ("plain message without msgid",),
        ],
        "message string",
    )
    rows = {r.solaris_msgid: r for r in solaris_msgid_parser(df, "message").collect()}
    assert rows["702911"].message == "syncing file systems..."
    assert rows[None].message == "plain message without msgid"


def _snmp_parse_one(spark, line):
    from syslog_ng_spark.operators.app_parsers import snmptrapd_parser

    df = spark.createDataFrame([(line,)], "raw string")
    return snmptrapd_parser(df, "raw").collect()[0]


def test_snmptrapd_v2_with_oids(spark):
    # reference: modules/afsnmp/tests/test_snmptrapd_parser.c
    # (test_general_v2_message_with_oids)
    r = _snmp_parse_one(
        spark,
        "2017-05-10 12:46:14 web2-kukorica.syslog_ng.balabit "
        "[UDP: [127.0.0.1]:34257->[127.0.0.1]:162]:\n"
        "iso.3.6.1.2.1.1.3.0 = Timeticks: (875496867) 101 days, 7:56:08.67\t"
        "iso.3.6.1.6.3.1.1.4.1.0 = OID: iso.3.6.1.4.1.8072.2.3.0.1       "
        "iso.3.6.1.4.1.8072.2.3.2.1 = INTEGER: 60        \t "
        'iso.3.6.1.4.1.8072.2.1.3 = ""',
    )
    assert r.is_trap
    assert r.sdata[".snmp.hostname"] == "web2-kukorica.syslog_ng.balabit"
    assert r.sdata[".snmp.transport_info"] == "UDP: [127.0.0.1]:34257->[127.0.0.1]:162"
    assert r.sdata[".snmp.iso.3.6.1.2.1.1.3.0"] == "(875496867) 101 days, 7:56:08.67"
    assert r.sdata[".snmp.iso.3.6.1.6.3.1.1.4.1.0"] == "iso.3.6.1.4.1.8072.2.3.0.1"
    assert r.sdata[".snmp.iso.3.6.1.4.1.8072.2.3.2.1"] == "60"
    assert r.sdata[".snmp.iso.3.6.1.4.1.8072.2.1.3"] == ""
    assert r.ts == datetime.datetime(2017, 5, 10, 12, 46, 14)


def test_snmptrapd_v1_with_enterprise_oid(spark):
    # (test_general_v1_message_with_oids)
    r = _snmp_parse_one(
        spark,
        "2017-11-10 13:23:16 localhost [UDP: [127.0.0.1]:53831->[127.0.0.1]:162]: "
        "iso.3.6.1.4.1.8072.2.3.1\n"
        "\t Enterprise Specific Trap (.17) Uptime: 18:41:07.83\n"
        "iso.3.6.1.4.1.8072.2.1.1 = INTEGER: 123456",
    )
    assert r.is_trap
    assert r.sdata[".snmp.enterprise_oid"] == "iso.3.6.1.4.1.8072.2.3.1"
    assert r.sdata[".snmp.type"] == "Enterprise Specific Trap"
    assert r.sdata[".snmp.subtype"] == ".17"
    assert r.sdata[".snmp.uptime"] == "18:41:07.83"
    assert r.sdata[".snmp.iso.3.6.1.4.1.8072.2.1.1"] == "123456"


def test_snmptrapd_v2_symbolic_types(spark):
    # (test_v2_with_symbolic_names_and_various_types)
    r = _snmp_parse_one(
        spark,
        "2017-05-13 12:17:32 localhost [UDP: [127.0.0.1]:52407->[127.0.0.1]:162]:  \n "
        "mib-2.1.3.0 = Timeticks: (875496867) 101 days, 7:56:08.67 \t"
        "snmpModules.1.1.4.1.0 = OID: netSnmpExampleHeartbeatNotification "
        "netSnmpExampleHeartbeatRate = INTEGER: 60\t"
        "netSnmpExampleString = STRING: \"string innerkey='innervalue'\"\t"
        "org.2.2 = Gauge32: 22\t"
        "org.1.1 = Counter32: 11123123   "
        "org.5.3 = Hex-STRING: A0 BB CC DD EF \t"
        "org.8.8 = NULL\t"
        "dod.7 = IpAddress: 192.168.1.0\t  "
        'org.5.9 = STRING: "@"',
    )
    assert r.sdata[".snmp.snmpModules.1.1.4.1.0"] == "netSnmpExampleHeartbeatNotification"
    assert r.sdata[".snmp.netSnmpExampleHeartbeatRate"] == "60"
    assert r.sdata[".snmp.netSnmpExampleString"] == "string innerkey='innervalue'"
    assert r.sdata[".snmp.org.2.2"] == "22"
    assert r.sdata[".snmp.org.1.1"] == "11123123"
    assert r.sdata[".snmp.org.5.3"] == "A0 BB CC DD EF"
    assert r.sdata[".snmp.org.8.8"] == "NULL"
    assert r.sdata[".snmp.dod.7"] == "192.168.1.0"
    assert r.sdata[".snmp.org.5.9"] == "@"


def test_snmptrapd_v1_symbolic_spacing(spark):
    # (test_v1_with_symbolic_names) — doubled spaces, space before colon
    r = _snmp_parse_one(
        spark,
        "2017-05-13 12:18:30  localhost  "
        "[UDP: [127.0.0.1]:58143->[127.0.0.1]:162] : netSnmpExampleNotification \n"
        "\t Warm Start Trap (1) Uptime:  27 days, 2:39:02.34\n "
        "netSnmpExampleInteger = INTEGER: 123456 \t netSnmpExampleString = STRING: random string",
    )
    assert r.is_trap
    assert r.sdata[".snmp.hostname"] == "localhost"
    assert r.sdata[".snmp.enterprise_oid"] == "netSnmpExampleNotification"
    assert r.sdata[".snmp.type"] == "Warm Start Trap"
    assert r.sdata[".snmp.subtype"] == "1"
    assert r.sdata[".snmp.uptime"] == "27 days, 2:39:02.34"
    assert r.sdata[".snmp.netSnmpExampleInteger"] == "123456"
    assert r.sdata[".snmp.netSnmpExampleString"] == "random string"


def test_snmptrapd_key_normalization(spark):
    # (test_v2_key_normalization) — ':' runs collapse to '_'
    r = _snmp_parse_one(
        spark,
        "2017-05-13 12:17:32 localhost [UDP: [127.0.0.1]:52407->[127.0.0.1]:162]:  \n "
        "mib-2.1.3.0 = Timeticks: (875496867) 101 days, 7:56:08.67 \t"
        'NET-SNMP-EXAMPLES-MIB:netSnmpExampleString = STRING: "random fact" \t'
        'NET-SNMP-EXAMPLES-MIB::netSnmpColons = STRING: "Colossus colons" \t'
        'NET-SNMP-EXAMPLES-MIB::::::::::::::::::::::::::Trail = STRING: "Gary Indiana" \t'
        ":NET-SNMP-EXAMPLES::::::::::::::::::::::::::::::MIB: = INTEGER: 1234 \t",
    )
    assert r.sdata[".snmp.NET-SNMP-EXAMPLES-MIB_netSnmpExampleString"] == "random fact"
    assert r.sdata[".snmp.NET-SNMP-EXAMPLES-MIB_netSnmpColons"] == "Colossus colons"
    assert r.sdata[".snmp.NET-SNMP-EXAMPLES-MIB_Trail"] == "Gary Indiana"
    assert r.sdata[".snmp._NET-SNMP-EXAMPLES_MIB_"] == "1234"


def test_snmptrapd_drops(spark):
    # (test_snmptrapd_debug_message_with_timestamp,
    #  test_v2_varbindlist_starts_with_tab, test_v2_message_with_garbage)
    debug = _snmp_parse_one(
        spark, "2017-05-19 10:00:00 NET-SNMP version 5.7.3 Stopped.\nStopping snmptrapd"
    )
    assert not debug.is_trap and debug.sdata is None
    tabbed = _snmp_parse_one(
        spark,
        "2017-05-19 13:37:00 localhost [UDP: [127.0.0.1]:36324->[127.0.0.1]:162]:\n"
        "\tiso.3.6.1.2.1.1.3.0 = Timeticks: (875496867) 101 days, 7:56:08.67 \t"
        "iso.3.6.1.6.3.1.1.4.1.0 = OID: iso.3.6.1.4.1.8072.2.3.0.1",
    )
    assert not tabbed.is_trap
    garbage = _snmp_parse_one(
        spark,
        "2017-05-10 12:46:14 localhost [UDP: [127.0.0.1]:34257->[127.0.0.1]:162]:\n"
        "iso.3.6.1.2.1.1.3.0 = Timeticks: (875496867) 101 days, 7:56:08.67\t"
        "iso.3.6.1.6.3.1.1.4.1.0 = OID: iso.3.6.1.4.1.8072.2.3.0.1\n"
        "garbage = stop here",
    )
    assert garbage.is_trap
    assert garbage.sdata[".snmp.iso.3.6.1.6.3.1.1.4.1.0"] == "iso.3.6.1.4.1.8072.2.3.0.1"
    assert ".snmp.garbage" not in garbage.sdata


# --- nodejs() source adapter (scl/nodejs/plugin.conf) ----------------------


def test_nodejs_winston_frame(spark):
    from syslog_ng_spark.operators.app_parsers import nodejs_parser

    df = spark.createDataFrame(
        [
            ('["log",{"level":"info","message":"hello world","pid":"42"}]',),
            ('["log",{"level":"error","message":"boom"}]',),
        ],
        ["raw"],
    )
    out = nodejs_parser(df, "raw").collect()
    assert out[0]["message"] == "hello world"
    assert out[0]["sdata"][".nodejs.winston.level"] == "info"
    assert out[0]["sdata"][".nodejs.winston.pid"] == "42"
    # the promoted key is unset from the map, like the SCL's rewrite
    assert ".nodejs.winston.message" not in out[0]["sdata"]
    assert out[1]["message"] == "boom"


def test_nodejs_malformed_payload_null_map(spark):
    from syslog_ng_spark.operators.app_parsers import nodejs_parser

    df = spark.createDataFrame([("not json at all",)], ["raw"])
    row = nodejs_parser(df, "raw").collect()[0]
    assert row["message"] is None
    assert row["sdata"] is None


def test_duplicate_keys_last_wins(spark):
    """Repeated keys in one line must not throw DUPLICATED_MAP_KEY —
    sudo/checkpoint/snmptrapd route through parsers._fold_kv_entries
    (last-wins), matching kv-scanner's overwrite semantics regardless
    of how the session was built."""
    from syslog_ng_spark.operators.app_parsers import (
        checkpoint_parser,
        sudo_parser,
    )

    df = spark.createDataFrame(
        [("bob : TTY=pts/1 ; COMMAND=/bin/a ; COMMAND=/bin/b",)],
        "message string",
    )
    sd = dict(sudo_parser(df, "message").collect()[0].sdata)
    assert sd[".sudo.COMMAND"] == "/bin/b"

    df = spark.createDataFrame(
        [("action:Accept; src:1.1.1.1; src:2.2.2.2",)], "message string"
    )
    sd = dict(checkpoint_parser(df).collect()[0].sdata)
    assert sd[".checkpoint.src"] == "2.2.2.2"

    # duplicate varbind OID in a v2 trap
    r = _snmp_parse_one(
        spark,
        "2017-05-10 12:46:14 h.example.org [UDP: [127.0.0.1]:34257->[127.0.0.1]:162]:\n"
        "iso.3.6.1.4.1.1 = INTEGER: 1\tiso.3.6.1.4.1.1 = INTEGER: 2",
    )
    assert r.sdata[".snmp.iso.3.6.1.4.1.1"] == "2"


def _regex_copies(df, regex: str) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count(regex)


def test_apache_and_cisco_under_filter_run_regex_once(spark):
    """A filter on a parsed field is pushed below the parse projection;
    the parse regex must stay single in the optimized plan."""
    from syslog_ng_spark.operators.app_parsers import _APACHE_RE, _CISCO_RE

    apache = spark.createDataFrame(
        [('127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 500 1',),
         ('127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 1',)],
        "message string",
    )
    errors = apache_accesslog_parser(apache, "message").where(
        (F.col("apache_response") >= 400) & F.col("apache_clientip").isNotNull()
    )
    assert _regex_copies(errors, _APACHE_RE) == 1
    assert errors.count() == 1
    cisco = spark.createDataFrame(
        [("<189>123: *Mar  1 18:46:11.299: %SYS-5-CONFIG_I: Configured",),
         ("%LINK-3-UPDOWN: Interface FastEthernet0/1, changed state to down",)],
        "raw string",
    )
    severe = cisco_parser(cisco, "raw").where(
        (F.col("cisco_severity") <= 3) & (F.col("cisco_facility") != "SYS")
    )
    assert _regex_copies(severe, _CISCO_RE) == 1
    assert [r.cisco_mnemonic for r in severe.collect()] == ["UPDOWN"]
