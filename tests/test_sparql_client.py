"""SPARQL 1.1 protocol client (`sparql_client/src/lib.rs`,
`results.rs`): request shape, content negotiation, response dispatch,
results parsing, and term validation — over injected fake transports
(the sandbox has no network; the protocol logic is what carries
parity)."""

import pytest

from sophia_rs_spark.sparql import query as sparql_query
from sophia_rs_spark.sparql.client import (
    SparqlClient,
    SparqlClientError,
    parse_results_json,
    parse_results_xml,
)
from sophia_rs_spark.sparql.results import (
    bindings_to_json,
    bindings_to_xml,
    boolean_to_json,
    to_json_str,
)

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def fake(ctype, payload, log=None):
    def transport(url, headers, body):
        if log is not None:
            log.append((url, headers, body))
        return ctype, payload if isinstance(payload, bytes) else payload.encode()

    return transport


SRJ = """{
  "head": {"vars": ["x", "y"]},
  "results": {"bindings": [
    {"x": {"type": "uri", "value": "http://ex.org/a"},
     "y": {"type": "literal", "value": "hi", "xml:lang": "EN"}},
    {"x": {"type": "bnode", "value": "b0"},
     "y": {"type": "literal", "value": "5",
           "datatype": "http://www.w3.org/2001/XMLSchema#integer"}},
    {"x": {"type": "literal", "value": "plain"}}
  ]}
}"""

SRX = """<?xml version="1.0"?>
<sparql xmlns="http://www.w3.org/2005/sparql-results#">
  <head><variable name="x"/><variable name="y"/></head>
  <results>
    <result>
      <binding name="x"><uri>http://ex.org/a</uri></binding>
      <binding name="y">
        <literal xml:lang="en" xmlns:xml="http://www.w3.org/XML/1998/namespace">hi</literal>
      </binding>
    </result>
    <result>
      <binding name="y"><bnode>b0</bnode></binding>
    </result>
  </results>
</sparql>"""


class TestRequest:
    def test_request_shape(self, spark):
        log = []
        cli = SparqlClient("http://ep/sparql", fake(
            "application/sparql-results+json",
            '{"head":{},"boolean":true}', log))
        assert cli.query(spark, "ASK { ?s ?p ?o }") is True
        url, headers, body = log[0]
        assert url == "http://ep/sparql"
        assert headers["Content-type"] == "application/sparql-query"
        assert headers["Accept"] == SparqlClient.DEFAULT_ACCEPT
        assert body == b"ASK { ?s ?p ?o }"

    def test_with_accept(self, spark):
        log = []
        cli = SparqlClient("http://ep", fake(
            "application/sparql-results+json",
            '{"head":{},"boolean":false}', log)
        ).with_accept("application/sparql-results+xml")
        assert cli.query(spark, "ASK {}") is False
        assert log[0][1]["Accept"] == "application/sparql-results+xml"

    def test_unsupported_content_type(self, spark):
        cli = SparqlClient("http://ep", fake("text/html", "<html/>"))
        with pytest.raises(SparqlClientError, match="unsupported content-type"):
            cli.query(spark, "SELECT * {}")

    def test_transport_error_wrapped(self, spark):
        def boom(url, headers, body):
            raise OSError("connection refused")

        cli = SparqlClient("http://ep", boom)
        with pytest.raises(SparqlClientError, match="http error"):
            cli.query(spark, "ASK {}")


class TestResultsJson:
    def test_bindings(self, spark):
        cli = SparqlClient(
            "http://ep", fake("application/sparql-results+json", SRJ))
        df = cli.query(spark, "SELECT ?x ?y {}")
        assert df.columns == ["x", "y"]
        rows = [tuple(r) for r in df.collect()]
        # language tags are canonicalized lowercase; absent binding →
        # unbound slot (results.rs pop_binding)
        assert rows == [
            ("<http://ex.org/a>", '"hi"@en'),
            ("_:b0", f'"5"^^<{XSD_INT}>'),
            ('"plain"', None),
        ]

    def test_triple_term_and_dir(self):
        doc = (
            '{"head":{"vars":["t","d"]},"results":{"bindings":[{'
            '"t":{"type":"triple","value":{'
            '  "subject":{"type":"uri","value":"http://ex.org/s"},'
            '  "predicate":{"type":"uri","value":"http://ex.org/p"},'
            '  "object":{"type":"literal","value":"o"}}},'
            '"d":{"type":"literal","value":"x","xml:lang":"ar","its:dir":"rtl"}'
            "}]}}"
        )
        variables, rows = parse_results_json(doc.encode())
        assert rows == [
            ('<<( <http://ex.org/s> <http://ex.org/p> "o" )>>',
             '"x"@ar--rtl'),
        ]

    def test_virtuoso_typed_literal_alias(self):
        doc = (
            '{"head":{"vars":["v"]},"results":{"bindings":[{'
            '"v":{"type":"typed-literal","value":"1",'
            f'"datatype":"{XSD_INT}"}}}}]}}}}'
        )
        _, rows = parse_results_json(doc.encode())
        assert rows == [(f'"1"^^<{XSD_INT}>',)]

    @pytest.mark.parametrize("bad,msg", [
        ('{"head":{"vars":["x"]},"results":{"bindings":[{"x":'
         '{"type":"uri","value":"no space allowed"}}]}}', "invalid iri"),
        ('{"head":{"vars":["x"]},"results":{"bindings":[{"x":'
         '{"type":"literal","value":"v","xml:lang":"12-%%"}}]}}',
         "invalid language tag"),
        ('{"head":{"vars":["x"]},"results":{"bindings":[{"x":'
         '{"type":"literal","value":"v","xml:lang":"en","its:dir":"up"}}]}}',
         "invalid base direction"),
        ('{"head":{"vars":["x"]},"results":{"bindings":[{"x":'
         '{"type":"frob","value":"v"}}]}}', "unknown term type"),
        ("not json", "invalid results json"),
        ('{"results":{}}', "malformed results document"),
    ])
    def test_validation_errors(self, bad, msg):
        with pytest.raises(SparqlClientError, match=msg):
            parse_results_json(bad.encode())


class TestResultsXml:
    def test_bindings(self, spark):
        cli = SparqlClient(
            "http://ep", fake("application/sparql-results+xml", SRX))
        df = cli.query(spark, "SELECT ?x ?y {}")
        rows = [tuple(r) for r in df.collect()]
        assert rows == [
            ("<http://ex.org/a>", '"hi"@en'),
            (None, "_:b0"),
        ]

    def test_ask(self):
        doc = ('<sparql xmlns="http://www.w3.org/2005/sparql-results#">'
               "<head/><boolean>true</boolean></sparql>")
        assert parse_results_xml(doc.encode()) is True

    def test_invalid_xml(self):
        with pytest.raises(SparqlClientError, match="invalid results xml"):
            parse_results_xml(b"<unclosed")


class TestGraphResponses:
    NT = ('<http://ex.org/s> <http://ex.org/p> "o1" .\n'
          '<http://ex.org/s> <http://ex.org/p> "o2"@en .\n')

    def test_ntriples_distributed_parse(self, spark):
        cli = SparqlClient(
            "http://ep", fake("application/n-triples", self.NT))
        df = cli.query(spark, "CONSTRUCT WHERE { ?s ?p ?o }")
        rows = sorted(tuple(r) for r in df.select("s", "p", "o").collect())
        assert rows == [
            ("<http://ex.org/s>", "<http://ex.org/p>", '"o1"'),
            ("<http://ex.org/s>", "<http://ex.org/p>", '"o2"@en'),
        ]

    def test_turtle(self, spark):
        body = ("@prefix e: <http://ex.org/> .\n"
                "e:s e:p e:o1, e:o2 .\n")
        cli = SparqlClient("http://ep", fake("text/turtle", body))
        df = cli.query(spark, "CONSTRUCT WHERE { ?s ?p ?o }")
        assert df.count() == 2

    def test_rdfxml(self, spark):
        body = ('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
                ' xmlns:e="http://ex.org/">'
                '<rdf:Description rdf:about="http://ex.org/s">'
                "<e:p>v</e:p></rdf:Description></rdf:RDF>")
        cli = SparqlClient("http://ep", fake("application/rdf+xml", body))
        df = cli.query(spark, "CONSTRUCT WHERE { ?s ?p ?o }")
        rows = [tuple(r) for r in df.collect()]
        assert rows == [("<http://ex.org/s>", "<http://ex.org/p>", '"v"')]


class TestSerializerRoundtrip:
    """Our results writers and the client's parsers are exact inverses:
    engine → bindings_to_json/xml → client → the same canonical
    encodings (the federation loop a user would actually run)."""

    def test_json_roundtrip(self, spark):
        df = spark.createDataFrame(
            [("<x:s>", "<x:p>", '"café"@fr')],
            "s string, p string, o string",
        )
        res = sparql_query(df, "SELECT ?s ?o { ?s <x:p> ?o }")
        doc = to_json_str(bindings_to_json(res))
        cli = SparqlClient(
            "http://ep", fake("application/sparql-results+json", doc))
        back = cli.query(spark, "SELECT ?s ?o {}")
        assert [tuple(r) for r in back.collect()] == [
            tuple(r) for r in res.collect()
        ]

    def test_xml_roundtrip(self, spark):
        df = spark.createDataFrame(
            [("<x:s>", "<x:p>", f'"42"^^<{XSD_INT}>')],
            "s string, p string, o string",
        )
        res = sparql_query(df, "SELECT ?o { ?s <x:p> ?o }")
        doc = bindings_to_xml(res)
        cli = SparqlClient(
            "http://ep", fake("application/sparql-results+xml", doc))
        back = cli.query(spark, "SELECT ?o {}")
        assert [tuple(r) for r in back.collect()] == [
            tuple(r) for r in res.collect()
        ]

    def test_ask_roundtrip(self, spark):
        doc = to_json_str(boolean_to_json(True))
        cli = SparqlClient(
            "http://ep", fake("application/sparql-results+json", doc))
        assert cli.query(spark, "ASK {}") is True


class TestServiceClause:
    """SERVICE [SILENT] <endpoint> { … } (sparql11-federated-query
    §2.2, built on the protocol client — the reference ships the
    client but leaves its executor's Service arm NotImplemented,
    `sparql/src/exec.rs:175-179`)."""

    @pytest.fixture()
    def endpoints(self, spark):
        """Install a transport that serves queries by evaluating them
        against a local 'remote' graph through our own engine — the
        client parsers are proven inverses of our writers, so the
        loop exercises the full wire format."""
        from sophia_rs_spark.sparql import set_service_transport

        remote = spark.createDataFrame(
            [
                ("<x:o1>", "<x:label>", '"Remote One"'),
                ("<x:o2>", "<x:label>", '"Remote Two"@en'),
                ("<x:o1>", "<x:extra>", '"e1"'),
            ],
            "s string, p string, o string",
        )
        log = []

        def transport(url, headers, body):
            log.append((url, body.decode()))
            res = sparql_query(remote, body.decode())
            return (
                "application/sparql-results+json",
                to_json_str(bindings_to_json(res)).encode(),
            )

        set_service_transport(transport)
        yield log
        set_service_transport(None)

    @pytest.fixture()
    def local(self, spark):
        return spark.createDataFrame(
            [
                ("<x:s1>", "<x:p>", "<x:o1>"),
                ("<x:s2>", "<x:p>", "<x:o2>"),
                ("<x:s3>", "<x:p>", "<x:o3>"),
            ],
            "s string, p string, o string",
        )

    def test_service_joins_remote_bindings(self, local, endpoints):
        got = sparql_query(
            local,
            """SELECT ?s ?lbl WHERE {
                 ?s <x:p> ?o
                 SERVICE <http://remote.example/sparql> { ?o <x:label> ?lbl }
               }""",
        )
        assert sorted(tuple(r) for r in got.collect()) == [
            ("<x:s1>", '"Remote One"'),
            ("<x:s2>", '"Remote Two"@en'),
        ]
        url, sent = endpoints[0]
        assert url == "http://remote.example/sparql"
        assert "SELECT *" in sent and "<x:label>" in sent

    def test_prologue_prefixes_forwarded(self, local, endpoints):
        got = sparql_query(
            local,
            "PREFIX r: <x:>\nSELECT ?s ?lbl WHERE {"
            "  ?s r:p ?o SERVICE <http://ep/s> { ?o r:label ?lbl } }",
        )
        assert got.count() == 2
        assert "PREFIX r: <x:>" in endpoints[0][1]

    def test_remote_optional_keeps_compat_join(self, local, endpoints):
        # remote OPTIONAL yields unbound ?e for o2 — the local join
        # must treat it as compatible (not drop the row)
        got = sparql_query(
            local,
            """SELECT ?s ?lbl ?e WHERE {
                 ?s <x:p> ?o
                 SERVICE <http://ep/s> {
                   ?o <x:label> ?lbl OPTIONAL { ?o <x:extra> ?e } }
               }""",
        )
        assert sorted(
            tuple(r) for r in got.collect()
        ) == [
            ("<x:s1>", '"Remote One"', '"e1"'),
            ("<x:s2>", '"Remote Two"@en', None),
        ]

    def test_repeated_query_sees_new_remote_bindings(self, spark, local):
        # the plan cache must not freeze the remote results: the same
        # text on the same frame asks the endpoint again
        from sophia_rs_spark.sparql import set_service_transport

        label = ['"Before"']

        def transport(url, headers, body):
            remote = spark.createDataFrame(
                [("<x:o1>", "<x:label>", label[0])],
                "s string, p string, o string",
            )
            res = sparql_query(remote, body.decode())
            return (
                "application/sparql-results+json",
                to_json_str(bindings_to_json(res)).encode(),
            )

        text = (
            "SELECT ?s ?lbl { ?s <x:p> ?o"
            "  SERVICE <http://ep/s> { ?o <x:label> ?lbl } }"
        )
        set_service_transport(transport)
        try:
            first = [tuple(r) for r in sparql_query(local, text).collect()]
            label[0] = '"After"'
            second = [tuple(r) for r in sparql_query(local, text).collect()]
        finally:
            set_service_transport(None)
        assert first == [("<x:s1>", '"Before"')]
        assert second == [("<x:s1>", '"After"')]

    def test_failure_is_an_error(self, spark, local):
        from sophia_rs_spark.sparql import SparqlError, set_service_transport

        def broken(url, headers, body):
            raise OSError("no route to host")

        set_service_transport(broken)
        try:
            with pytest.raises(SparqlError, match="SERVICE"):
                sparql_query(
                    local,
                    "SELECT ?s { ?s <x:p> ?o"
                    "  SERVICE <http://ep/s> { ?o <x:label> ?l } }",
                ).collect()
        finally:
            set_service_transport(None)

    def test_silent_failure_is_unit(self, spark, local):
        from sophia_rs_spark.sparql import set_service_transport

        def broken(url, headers, body):
            raise OSError("no route to host")

        set_service_transport(broken)
        try:
            got = sparql_query(
                local,
                "SELECT ?s { ?s <x:p> ?o"
                "  SERVICE SILENT <http://ep/s> { ?o <x:label> ?l } }",
            )
            assert got.count() == 3  # every local row survives, ?l unbound
        finally:
            set_service_transport(None)

    def test_variable_endpoint_errors_unless_silent(self, local, endpoints):
        from sophia_rs_spark.sparql import SparqlError

        with pytest.raises(SparqlError, match="endpoint"):
            sparql_query(
                local,
                "SELECT ?s { ?s <x:p> ?o SERVICE ?ep { ?o <x:label> ?l } }",
            ).collect()
        got = sparql_query(
            local,
            "SELECT ?s { ?s <x:p> ?o SERVICE SILENT ?ep { ?o <x:label> ?l } }",
        )
        assert got.count() == 3

    def test_graph_response_is_an_error(self, spark, local):
        from sophia_rs_spark.sparql import SparqlError, set_service_transport

        set_service_transport(fake("text/turtle", "<x:a> <x:b> <x:c> ."))
        try:
            with pytest.raises(SparqlError, match="graph response"):
                sparql_query(
                    local,
                    "SELECT ?s { ?s <x:p> ?o"
                    "  SERVICE <http://ep/s> { ?o <x:label> ?l } }",
                ).collect()
        finally:
            set_service_transport(None)
