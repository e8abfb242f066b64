"""Golden-query round trip over the evaluate service -- the analogue of the
reference's python/diagonal_b6/b6_test.py granary-square tests, run by
EvaluateServiceSpec against a live in-process server.

argv: port (the server must hold the granary-square world as its base).
"""
import sys
import graft_b6

conn = graft_b6.connect_insecure("127.0.0.1:" + sys.argv[1])

GOLDENS = [
    # (expression, expected) -- counts mirror b6_test.py's granary goldens
    ("find [#amenity=bicycle_parking] | count", 11),
    ("find-areas [#building] | count", 13),
    ('find (typed "path" (keyed "#highway")) | count', 117),
    ("find-areas [#highway] | count", 5),
    ("find [#building] | take 2 | count", 2),
    ("add 2 3", 5),
    ("divide 7 2", 3),
    ("add-ints 40 2", 42),
    ("clamp 10 0 5", 5),
    ("distance-meters (ll 51.5353 -0.1258) (ll 51.5353 -0.1258)", 0.0),
    ('tag "name" "x" | value', 'x'),
    ('keyed "#building"', '#building'),
]

for expression, expected in GOLDENS:
    got = conn(expression)
    assert got == expected, "%r -> %r, expected %r" % (expression, got, expected)

rows = conn("find [#amenity=bicycle_parking] | take 3")
assert isinstance(rows, list) and len(rows) == 3, rows

manifest = conn.functions()
names = {f["name"] for f in manifest["functions"]}
assert len(names) >= 60, "manifest too small: %d" % len(names)
assert {"find", "filter", "map", "count", "distance-meters",
        "connect-to-network", "percentiles"} <= names
arities = {f["name"]: f["arity"] for f in manifest["functions"]}
assert arities["find"] == 1 and arities["closest"] == 3

# NodeProto trees built client-side: (add-ints 40 2) and a pipelined
# (find-areas [#building] | count)
node = graft_b6.proto_call(graft_b6.proto_symbol("add-ints"),
                           [graft_b6.proto_int(40), graft_b6.proto_int(2)])
inner = graft_b6.proto_call(graft_b6.proto_symbol("find-areas"),
                            [graft_b6.proto_query_keyed("#building")])
outer = graft_b6.proto_call(graft_b6.proto_symbol("count"), [inner],
                            pipelined=True)

# the reference RPC itself over gRPC-Web framing: scalar, pipelined
# collection count, and error trailers
got = graft_b6.parse_result_node(conn.evaluate_grpc_web(node))
assert got == 42, got
got = graft_b6.parse_result_node(conn.evaluate_grpc_web(outer))
assert got == 13, got
try:
    conn.evaluate_grpc_web(graft_b6.proto_call(
        graft_b6.proto_symbol("no-such-fn"), [graft_b6.proto_int(1)]))
    raise AssertionError("expected grpc-status != 0")
except RuntimeError as e:
    assert "grpc-status" in str(e), e

print("OK %d goldens + manifest(%d functions) + grpc-web" % (len(GOLDENS), len(names)))
