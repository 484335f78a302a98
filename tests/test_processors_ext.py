"""Kernel tests for process_map/process_dag, grok, parse_log, xml and z85 —
mirroring the reference's Go test tables."""

import json

import pytest

from benthos_spark.bloblang.z85 import z85_decode, z85_encode
from benthos_spark.engine import Env, build_processor, execute_all
from benthos_spark.engine.processors import Part


def run(procs_conf, content, meta=None):
    procs = [build_processor(p) for p in procs_conf]
    batches = execute_all(procs, [Part(content, meta or {})], Env())
    return batches


class TestProcessMap:
    def test_premap_postmap_roundtrip(self):
        conf = [
            {
                "process_map": {
                    "premap": {"value": "doc.val"},
                    "processors": [
                        {"bloblang": "root = this\nvalue = value * 2"}
                    ],
                    "postmap": {"doc.doubled": "value"},
                }
            }
        ]
        out = run(conf, b'{"doc":{"val":21}}')
        doc = json.loads(out[0][0].content)
        assert doc["doc"]["doubled"] == 42
        assert doc["doc"]["val"] == 21

    def test_condition_gates(self):
        conf = [
            {
                "process_map": {
                    "conditions": [{"json": {"path": "go", "operator": "equals", "arg": True}}],
                    "premap": {".": "x"},
                    "processors": [{"bloblang": "root = this + 1"}],
                    "postmap": {"x": "."},
                }
            }
        ]
        out = run(conf, b'{"go":true,"x":1}')
        assert json.loads(out[0][0].content)["x"] == 2
        out = run(conf, b'{"go":false,"x":1}')
        assert json.loads(out[0][0].content)["x"] == 1

    def test_dag_dependency_order(self):
        conf = [
            {
                "process_dag": {
                    "b": {
                        "dependencies": ["a"],
                        "premap": {".": "step_a"},
                        "processors": [{"bloblang": "root = this * 10"}],
                        "postmap": {"step_b": "."},
                    },
                    "a": {
                        "premap": {".": "x"},
                        "processors": [{"bloblang": "root = this + 1"}],
                        "postmap": {"step_a": "."},
                    },
                }
            }
        ]
        out = run(conf, b'{"x":4}')
        doc = json.loads(out[0][0].content)
        assert doc["step_a"] == 5 and doc["step_b"] == 50


class TestParsers:
    def test_grok_extracts_named_fields(self):
        # grok.go semantics: captures stay strings unless cast with :int/:float
        conf = [{"grok": {"patterns": ["%{IP:ip} %{WORD:method} %{NUMBER:ms:float}"]}}]
        out = run(conf, b"10.0.0.1 GET 13.5 trailing")
        assert json.loads(out[0][0].content) == {"ip": "10.0.0.1", "method": "GET", "ms": 13.5}

    def test_grok_reference_vectors(self):
        # /root/reference/lib/processor/grok_test.go:60-77
        conf = [{"grok": {"patterns": ["%{COMMONAPACHELOG}"]}}]
        out = run(conf, b'127.0.0.1 - - [23/Apr/2014:22:58:32 +0200] "GET /index.php HTTP/1.1" 404 207')
        assert out[0][0].content.decode() == (
            '{"auth":"-","bytes":"207","clientip":"127.0.0.1","httpversion":"1.1",'
            '"ident":"-","request":"/index.php","response":"404",'
            '"timestamp":"23/Apr/2014:22:58:32 +0200","verb":"GET"}'
        )
        conf = [{"grok": {
            "patterns": ["%{ACTION:action} connection from %{IPV4:ipv4}"],
            "pattern_definitions": {"ACTION": "(pass|deny)"},
        }}]
        out = run(conf, b"pass connection from 127.0.0.1")
        assert json.loads(out[0][0].content) == {"action": "pass", "ipv4": "127.0.0.1"}

    STD_PATTERN_CASES = [
        # (pattern, input, expected subset of extracted fields)
        ("%{UUID:id}", "id=550e8400-e29b-41d4-a716-446655440000 ok",
         {"id": "550e8400-e29b-41d4-a716-446655440000"}),
        ("%{MAC:mac}", "dev at 00:1a:2b:3c:4d:5e up", {"mac": "00:1a:2b:3c:4d:5e"}),
        ("%{MAC:mac}", "dev at 001a.2b3c.4d5e up", {"mac": "001a.2b3c.4d5e"}),
        ("%{UNIXPATH:p}", "read /var/log/app-1.log now", {"p": "/var/log/app-1.log"}),
        ("%{URI:uri}", "fetch https://example.com:8443/a/b?x=1 done",
         {"uri": "https://example.com:8443/a/b?x=1", "port": "8443"}),
        ("%{SYSLOGBASE} %{GREEDYDATA:msg}",
         "Oct 11 22:14:15 mymachine su[230]: 'su root' failed",
         {"timestamp": "Oct 11 22:14:15", "logsource": "mymachine",
          "program": "su", "pid": "230", "msg": "'su root' failed"}),
        ("%{DATESTAMP:ts}", "at 10/24/2023 22:58:32 end", {"ts": "10/24/2023 22:58:32"}),
        ("%{DATESTAMP_RFC2822:ts}", "Tue, 24 Oct 2023 22:58:32 +0200 -",
         {"ts": "Tue, 24 Oct 2023 22:58:32 +0200"}),
        ("%{LOGLEVEL:lvl}", "level=warning x", {"lvl": "warning"}),
        ("%{BASE16NUM:n}", "ptr 0xdeadBEEF!", {"n": "0xdeadBEEF"}),
        ("%{HOSTPORT:hp}", "-> 10.1.2.3:8080 ok", {"hp": "10.1.2.3:8080"}),
        ("%{COMBINEDAPACHELOG}",
         '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /a.png HTTP/1.0" '
         '200 2326 "http://ref.example/start.html" "Mozilla/4.08"',
         {"clientip": "127.0.0.1", "auth": "frank", "verb": "GET",
          "response": "200", "bytes": "2326",
          "referrer": '"http://ref.example/start.html"', "agent": '"Mozilla/4.08"'}),
    ]

    @pytest.mark.parametrize(
        "pattern,text,expected",
        STD_PATTERN_CASES,
        ids=[c[0][: c[0].index("}") + 1] for c in STD_PATTERN_CASES],
    )
    def test_grok_standard_pattern_library(self, pattern, text, expected):
        # vjeantet/trivago-style standard set embedded by grok.go:13
        out = run([{"grok": {"patterns": [pattern]}}], text.encode())
        doc = json.loads(out[0][0].content)
        for k, v in expected.items():
            assert doc.get(k) == v, (k, doc)

    def test_grok_every_std_pattern_compiles(self):
        from benthos_spark.engine.processors_ext import _GROK_PATTERNS, grok_to_regex
        import re as _re

        for name in _GROK_PATTERNS:
            _re.compile(grok_to_regex("%{" + name + ":x}"))

    def test_parse_log_rfc3164(self):
        conf = [{"parse_log": {"format": "syslog_rfc3164"}}]
        out = run(conf, b"<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed")
        doc = json.loads(out[0][0].content)
        assert doc["hostname"] == "mymachine"
        assert doc["appname"] == "su"
        assert doc["severity"] == 2 and doc["facility"] == 4
        assert doc["message"] == "'su root' failed"

    def test_parse_log_rfc5424(self):
        conf = [{"parse_log": {"format": "syslog_rfc5424"}}]
        out = run(
            conf,
            b"<165>1 2003-10-11T22:14:15.003Z host.example app 1234 ID47 - An application event",
        )
        doc = json.loads(out[0][0].content)
        assert doc["appname"] == "app" and doc["version"] == 1
        assert doc["message"] == "An application event"

    def test_xml_to_json(self):
        conf = [{"xml": {"operator": "to_json"}}]
        out = run(conf, b'<root attr="x"><a>1</a><b>t</b><b>u</b></root>')
        doc = json.loads(out[0][0].content)
        assert doc == {"root": {"-attr": "x", "a": 1, "b": ["t", "u"]}}


class TestZ85:
    def test_roundtrip(self):
        data = bytes(range(16))
        assert z85_decode(z85_encode(data)) == data

    def test_spec_vector(self):
        # reference vector from the Z85 spec (RFC 32)
        assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"

    def test_processor_roundtrip(self):
        enc = run([{"encode": {"scheme": "z85"}}], b"12345678")
        dec = run([{"decode": {"scheme": "z85"}}], enc[0][0].content)
        assert dec[0][0].content == b"12345678"

