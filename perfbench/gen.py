"""Seeded input generators and the staging that writes them to disk.

The NEAR tables follow ``testgen.generate_near_tables``'s distribution
(70% of receipts target the token contract; methods 50% ft_transfer,
20% mint, 10% withdraw, 10% ft_resolve_transfer, 10% unknown; 5%
FAILURE outcomes; 5% CDC duplicates; 5000 accounts; one receipt per
second of block time), but every hash bucket mixes in the workload
seed, so each seed gives other accounts, methods, amounts and
duplicates.  The generator also computes the expected balances in
plain Python: the reference the topology's output is checked against.

The registry tables carry the column names and types of the sf
testdata tables the six ``registry_mix`` queries read.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_NS = 1_628_737_958_000_000_000  # 2021-08-12 in epoch ns
STEP_NS = 1_000_000_000  # block time between consecutive receipts
ACCOUNTS = 5000
TOKEN = "oct.beta_oct_relay.testnet"
TOPICS = ("receipts", "execution_outcomes", "action_receipt_actions")

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
        return x ^ (x >> np.uint64(31))


def bucket(ids: np.ndarray, salt: int, seed: int, mod: int) -> np.ndarray:
    """Hash bucket in [0, mod) of each id, salted per column and seed."""
    key = np.uint64((salt * 0x100000001B3 + seed * 0x1F3D5B79) & 0xFFFFFFFFFFFFFFFF)
    h = _splitmix(_splitmix(ids.astype(np.uint64) ^ key))
    return (h % np.uint64(mod)).astype(np.int64)


class NearInputs:
    """Rows of the three CDC topics for receipts ``0 .. n-1``.

    ``topic_rows`` gives dicts in topic-schema column order (decimals as
    Python ints); duplicates follow their originals' id range, so a
    segment of ids carries its own redeliveries.
    """

    def __init__(self, n: int, seed: int):
        self.n, self.seed = n, seed
        ids = np.arange(n, dtype=np.int64)
        b = {s: bucket(ids, s, seed, m) for s, m in (
            (1, 10), (2, 50), (3, ACCOUNTS), (4, 100), (5, 50), (6, 20),
            (7, 10), (8, 1_000_000), (9, ACCOUNTS), (10, 20),
        )}
        self.ids = ids
        self.is_token = b[1] < 7
        self.failed = b[6] == 0
        self.method = b[7]
        self.amount = [(int(v) + 1) * 10**18 for v in b[8]]
        self.pred = [f"acct{v}" for v in b[3]]
        self.recv = [f"acct{v}" for v in b[9]]
        self.idx_r = b[2]
        self.idx_o = b[5]
        self.other = [f"other{v}" for v in b[4]]
        self.dup = b[10] == 0

    def ts(self, i: int) -> int:
        return T0_NS + int(self.ids[i]) * STEP_NS

    def _args(self, i: int) -> str:
        m, amt, recv = int(self.method[i]), self.amount[i], self.recv[i]
        if m < 5:
            return ('{"gas":1,"deposit":"0","method_name":"ft_transfer",'
                    f'"args_json":{{"receiver_id":"{recv}","amount":"{amt}"}}}}')
        if m < 7:
            return ('{"gas":1,"deposit":"0","method_name":"mint",'
                    f'"args_json":{{"account_id":"{recv}","amount":"{amt}"}}}}')
        if m < 8:
            return ('{"gas":1,"deposit":"0","method_name":"withdraw",'
                    f'"args_json":{{"recipient":"0x{recv}","amount":"{amt}"}}}}')
        if m < 9:
            return ('{"gas":1,"deposit":"0","method_name":"ft_resolve_transfer",'
                    f'"args_json":{{"sender_id":"{self.pred[i]}",'
                    f'"receiver_id":"{recv}","amount":"{amt}"}}}}')
        return '{"gas":1,"deposit":"0","method_name":"ft_balance_of","args_json":{}}'

    def topic_rows(self, topic: str, lo: int | None = None, hi: int | None = None) -> list[dict]:
        """Rows of ``topic`` for ids ``lo .. hi-1`` (default: all), each
        duplicated id appended after the originals."""
        a = 0 if lo is None else lo
        z = self.n if hi is None else hi
        out = []
        for i in range(a, z):
            rid = f"r{int(self.ids[i])}"
            recv = TOKEN if self.is_token[i] else self.other[i]
            ts = self.ts(i)
            if topic == "receipts":
                row = {
                    "receipt_id": rid,
                    "included_in_block_hash": f"bh{int(self.ids[i])}",
                    "included_in_chunk_hash": f"ch{int(self.ids[i])}",
                    "index_in_chunk": int(self.idx_r[i]),
                    "included_in_block_timestamp": ts,
                    "predecessor_account_id": self.pred[i],
                    "receiver_account_id": recv,
                    "receipt_kind": "ACTION",
                    "originated_from_transaction_hash": f"tx{int(self.ids[i])}",
                    "__deleted": None,
                }
            elif topic == "execution_outcomes":
                row = {
                    "receipt_id": rid,
                    "executed_in_block_hash": f"ebh{int(self.ids[i])}",
                    "executed_in_block_timestamp": ts + STEP_NS,
                    "index_in_chunk": int(self.idx_o[i]),
                    "gas_burnt": 3_000_000_000_000,
                    "tokens_burnt": 3 * 10**20,
                    "executor_account_id": TOKEN,
                    "status": "FAILURE" if self.failed[i] else "SUCCESS_VALUE",
                    "shard_id": 1,
                    "__deleted": None,
                }
            else:
                row = {
                    "receipt_id": rid,
                    "index_in_action_receipt": 0,
                    "action_kind": "FUNCTION_CALL",
                    "args": self._args(i),
                    "receipt_predecessor_account_id": self.pred[i],
                    "receipt_receiver_account_id": recv,
                    "receipt_included_in_block_timestamp": ts,
                    "__deleted": None,
                }
            out.append(row)
        out += [dict(r) for r, i in zip(out, range(a, z)) if self.dup[i]]
        return out

    def n_records(self, skip: int = 0) -> int:
        """CDC records (duplicates included) of all but the first ``skip``
        receipts."""
        return 3 * (len(self.ids) - skip + int(self.dup[skip:].sum()))

    def expected_balances(self) -> dict[str, tuple[int, int, str]]:
        """account -> (balance, block_timestamp of its latest event,
        receipt_id of that event), computed without Spark."""
        bal: dict[str, int] = {}
        meta: dict[str, tuple[int, str]] = {}
        for i in range(len(self.ids)):
            if not self.is_token[i] or self.failed[i]:
                continue
            m, amt = int(self.method[i]), self.amount[i]
            if m < 5 or m == 8:
                legs = [(self.pred[i], -amt), (self.recv[i], amt)]
            elif m < 7:
                legs = [(self.recv[i], amt)]
            elif m < 8:
                legs = [(self.pred[i], -amt)]
            else:
                continue
            for acct, delta in legs:
                bal[acct] = bal.get(acct, 0) + delta
                meta[acct] = (self.ts(i), f"r{int(self.ids[i])}")
        return {a: (bal[a], *meta[a]) for a in bal}


def arrow_schema(topic: str) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    from nearscan_kafka_streams_spark.schemas import TOPIC_SCHEMAS

    return to_arrow_schema(TOPIC_SCHEMAS[topic][0])


def write_parquet(rows: list[dict], topic: str, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    schema = arrow_schema(topic)
    cols = {}
    for f in schema:
        vals = [r[f.name] for r in rows]
        if pa.types.is_decimal(f.type):
            from decimal import Decimal

            vals = [None if v is None else Decimal(v) for v in vals]
        cols[f.name] = pa.array(vals, type=f.type)
    pq.write_table(pa.table(cols, schema=schema), f"{path}/part-00000.parquet")


def frame_records(rows: list[dict], topic: str) -> list[bytes]:
    """Confluent-framed Avro values, as a Connect producer emits them."""
    from nearscan_kafka_streams_spark.schemas import avro_value_schema
    from nearscan_kafka_streams_spark.serde.avro import AvroCodec, confluent_frame

    codec = AvroCodec(avro_value_schema(topic))
    return [confluent_frame(1, codec.encode(r)) for r in rows]


def stage_near(inputs: NearInputs, root: str) -> None:
    """Parquet copies of the three topics under ``root/<topic>``."""
    for topic in TOPICS:
        write_parquet(inputs.topic_rows(topic), topic, f"{root}/{topic}")


def stage_segments(inputs: NearInputs, root: str, seg_receipts: int) -> int:
    """Framed-Avro segments ``root/<topic>/seg-NNNNN.bin``, one per
    ``seg_receipts`` consecutive receipt ids; returns the count."""
    from nearscan_kafka_streams_spark.sources.pyds import write_framed_log

    n = 0
    for lo in range(0, inputs.n, seg_receipts):
        hi = min(lo + seg_receipts, inputs.n)
        for topic in TOPICS:
            write_framed_log(
                frame_records(inputs.topic_rows(topic, lo, hi), topic),
                f"{root}/{topic}/seg-{n:05d}.bin",
            )
        n += 1
    return n


# ------------------------------------------------------------ registry

_WORDS = (
    "the a of and to is key agg row scan slow fast table value part hash "
    "merge batch spark line sort window order data column join small "
    "customer query big filter group stream vector"
).split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def registry_tables(seed: int, n_customers: int = 300) -> dict[str, pa.Table]:
    """The six tables the registry_mix queries read, sized from
    ``n_customers`` in testdata's proportions (orders 10x, events
    ~7x, documents and embeddings n/3)."""
    rng = np.random.default_rng(seed)
    nc, no = n_customers, 10 * n_customers
    day = 86_400_000_000
    t0 = int(_dt.datetime(1992, 1, 1, tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    orderdate = t0 + rng.integers(0, 2400, no) * day
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, no), 2),
        "o_orderdate": pa.array(orderdate, pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    # 1% bulk orders (seven large lines) give q18's HAVING > 300 rows
    bulk = rng.random(no) < 0.01
    lines = np.where(bulk, 7, rng.integers(1, 8, no))
    lok = np.repeat(np.arange(no), lines)
    nl = len(lok)
    qty = np.where(np.repeat(bulk, lines), rng.integers(40, 51, nl), rng.integers(1, 51, nl))
    lineitem = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
        ),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            np.repeat(orderdate, lines) + rng.integers(1, 122, nl) * day,
            pa.timestamp("us"),
        ),
    })
    ne = 7 * nc
    ets = int(_dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000 + np.cumsum(
        rng.integers(5_000, 500_000_000, ne)
    )
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(nc // 10, 2), ne), pa.int64()),
        "event_type": [
            ("click", "view", "error", "signup", "purchase")[i]
            for i in rng.integers(0, 5, ne)
        ],
        "value": np.round(rng.exponential(50, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = max(nc // 3, 20)
    texts = []
    for i in range(nd):
        if i % 10 and rng.random() < 0.2:  # near-duplicate of the group head
            words = texts[i - i % 10].split()
            words[rng.integers(0, len(words))] = _WORDS[rng.integers(0, len(_WORDS))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), rng.integers(10, 100))]
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [("en", "zh", "es", "de", "fr")[i] for i in rng.integers(0, 5, nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = max(nc // 3, 20)
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0, 0.2, (10, 64))
    emb = (centroids[labels] + rng.normal(0, 0.1, (nv, 64))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "customer": customer, "orders": orders, "lineitem": lineitem,
        "events": events, "documents": documents, "embeddings": embeddings,
    }


def stage_registry(tables: dict[str, pa.Table], sf_dir: str) -> int:
    """Write ``<name>.parquet`` files as the queries expect; returns the
    total input rows."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, f"{sf_dir}/{name}.parquet")
    return sum(t.num_rows for t in tables.values())
