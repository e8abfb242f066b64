"""Minimal python client for the graft evaluate service -- the analogue of
the reference's python/diagonal_b6 package (expression.py:7-60), speaking the
engine's two HTTP/1.1 doors: JSON at /evaluate, and the reference's
b6.grpc.B6/Evaluate RPC over gRPC-Web framing (no third-party deps: stdlib
urllib only).

Usage:
    conn = graft_b6.connect_insecure("127.0.0.1:8001")
    count = conn("find [#building] | count")          # -> 13
    rows  = conn("find [#building] | take 2")          # -> list of dicts
    fns   = conn.functions()                           # -> stub manifest
"""
import json
import urllib.request


class Connection:
    def __init__(self, base, version="1"):
        self.base = base.rstrip("/")
        self.version = version
        # client-stub generation: one attribute per registered function,
        # bound to a pipeline-builder (the b6-api --functions analogue)
        self._functions = None

    def functions(self):
        if self._functions is None:
            with urllib.request.urlopen(self.base + "/functions") as r:
                self._functions = json.load(r)
        return self._functions

    def evaluate(self, expression, world=None):
        body = {"expression": expression, "version": self.version}
        if world is not None:
            body["world"] = world
        req = urllib.request.Request(
            self.base + "/evaluate",
            data=json.dumps(body).encode("utf-8"),
            headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req) as r:
                out = json.load(r)
        except urllib.error.HTTPError as e:
            raise RuntimeError(json.loads(e.read()).get("error", str(e)))
        kind, result = out["type"], out["result"]
        if kind == "long":
            return int(result)
        if kind == "double":
            return float(result)
        return result

    def evaluate_grpc_web(self, node_bytes, world=None):
        """The reference RPC itself -- b6.grpc.B6/Evaluate -- over gRPC-Web
        unary framing (the published grpc-web protocol: 1 flag byte + 4-byte
        big-endian length per frame, trailer frame carries grpc-status).
        Returns the raw result NodeProto bytes."""
        req_msg = _len_field(1, node_bytes) + _len_field(
            2, self.version.encode("utf-8"))
        if world is not None:
            req_msg += _len_field(3, _feature_id_proto(world))
        req = urllib.request.Request(
            self.base + "/b6.grpc.B6/Evaluate",
            data=_grpc_frame(0, req_msg),
            headers={"Content-Type": "application/grpc-web+proto"})
        with urllib.request.urlopen(req) as r:
            frames = _grpc_frames(r.read())
        trailers = b"".join(p for f, p in frames if f & 0x80)
        status = _grpc_status(trailers)
        if status != 0:
            raise RuntimeError("grpc-status %d: %s" % (status, trailers.decode(
                "utf-8", "replace")))
        data = b"".join(p for f, p in frames if not f & 0x80)
        # EvaluateResponseProto{result=1}: return the inner NodeProto bytes
        if data[:1] != b"\x0a":
            raise RuntimeError("unexpected EvaluateResponseProto: %r" % data[:8])
        n, pos = _read_varint(data, 1)
        return data[pos:pos + n]

    # calling the connection evaluates, like diagonal_b6.Connection
    __call__ = evaluate


# ---- proto3 NodeProto builders (api.proto:106-149; wire format is the
# ---- public proto3 spec: varints + length-delimited submessages) ----------

def _varint(v):
    out = bytearray()
    v &= (1 << 64) - 1  # int64 two's-complement on the wire
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _field(num, wire, payload):
    return _varint((num << 3) | wire) + payload


def _len_field(num, payload):
    return _field(num, 2, _varint(len(payload)) + payload)


def proto_symbol(name):
    """NodeProto{symbol: name}"""
    return _len_field(1, name.encode("utf-8"))


def proto_string(value):
    """NodeProto{literal{stringValue}}"""
    return _len_field(2, _len_field(3, value.encode("utf-8")))


def proto_int(value):
    """NodeProto{literal{intValue}} (always emitted: oneof arm)"""
    return _len_field(2, _field(4, 0, _varint(value)))


def proto_query_keyed(key):
    """NodeProto{literal{queryValue{keyed}}} (api.proto:184-202)"""
    return _len_field(2, _len_field(9, _len_field(3, key.encode("utf-8"))))


def proto_call(function_node, args, pipelined=False):
    """NodeProto{call{function, args..., pipelined}}"""
    body = _len_field(1, function_node)
    for a in args:
        body += _len_field(2, a)
    if pipelined:
        body += _field(3, 0, _varint(1))
    return _len_field(3, body)


# ---- gRPC-Web framing helpers ---------------------------------------------

_FTYPES = {"point": 1, "path": 2, "area": 3, "relation": 4,
           "collection": 5, "expression": 6}


def _feature_id_proto(world):
    """FeatureIDProto from a '/collection/ns/id' world token."""
    parts = world.strip("/").split("/")
    ftype, value = parts[0], int(parts[-1])
    ns = "/".join(parts[1:-1])
    out = b""
    if _FTYPES.get(ftype):
        out += _field(1, 0, _varint(_FTYPES[ftype]))
    if ns:
        out += _len_field(2, ns.encode("utf-8"))
    if value:
        out += _field(3, 0, _varint(value))
    return out


def _grpc_frame(flag, payload):
    return bytes([flag]) + len(payload).to_bytes(4, "big") + payload


def _grpc_frames(body):
    frames, pos = [], 0
    while pos + 5 <= len(body):
        flag = body[pos]
        n = int.from_bytes(body[pos + 1:pos + 5], "big")
        frames.append((flag, body[pos + 5:pos + 5 + n]))
        pos += 5 + n
    return frames


def _grpc_status(trailers):
    for line in trailers.decode("utf-8", "replace").split("\r\n"):
        if line.lower().startswith("grpc-status:"):
            return int(line.split(":", 1)[1].strip())
    return -1


def _read_varint(data, pos):
    shift, out = 0, 0
    while True:
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return out, pos


def parse_result_node(node):
    """Decode the scalar LiteralNodeProto arms of an Evaluate result
    (int/float/string/bool) to a python value; other arms come back raw."""
    if node[:1] != b"\x12":  # field 2 (literal), length-delimited
        return node
    n, pos = _read_varint(node, 1)
    lit = node[pos:pos + n]
    if not lit:
        return None
    field, wire = lit[0] >> 3, lit[0] & 7
    if field == 4 and wire == 0:   # intValue
        v, _ = _read_varint(lit, 1)
        return v - (1 << 64) if v >= (1 << 63) else v
    if field == 3 and wire == 2:   # stringValue
        n2, p2 = _read_varint(lit, 1)
        return lit[p2:p2 + n2].decode("utf-8")
    if field == 5 and wire == 1:   # floatValue
        import struct
        return struct.unpack("<d", lit[1:9])[0]
    if field == 2 and wire == 0:   # boolValue
        return lit[1] != 0
    if field == 1 and wire == 0:   # nilValue
        return None
    return node


def connect_insecure(address):
    if not address.startswith("http"):
        address = "http://" + address
    return Connection(address)
