"""Memo decode pins for invalid UTF-8 payloads.

memos.js:27-40 decodes a hex or base64 memo field with Node's
``Buffer#toString('utf8')``, which substitutes U+FFFD for every
invalid sequence instead of throwing.  A strict decode here would fail
``xrpl_memos`` -- and with it the whole warehouse build -- on a single
such memo.  The 54-ledger real fixtures carry only valid UTF-8, so
these pins run the parser over a SYNTHETIC ledger whose memos mix
valid and invalid hex and base64 payloads.  Python's
``bytes.decode("utf-8", "replace")`` is the oracle: it follows the same
WHATWG substitution rule as Node.
"""

from __future__ import annotations

import base64
import json

import pytest

CLOSE = 600000000  # ripple seconds

# (MemoData, raw payload bytes, encoding)
MEMOS = [
    ("68656c6c6f", b"hello", "hex"),
    ("C3A9", b"\xc3\xa9", "hex"),  # valid 2-byte sequence: e-acute
    ("FF41", b"\xffA", "hex"),  # 0xFF never starts a sequence
    ("E282", b"\xe2\x82", "hex"),  # truncated 3-byte sequence
    ("0xC3A9", b"\xc3\xa9", "hex"),  # the 0x prefix is stripped
    ("/0E=", b"\xffA", "base64"),
    (base64.b64encode(b"caf\xc3\xa9!").decode(), b"caf\xc3\xa9!", "base64"),
]


@pytest.fixture(scope="module")
def memos(spark, tmp_path_factory):
    from rippled_historical_database_spark.operators.xrpl_silver import (
        xrpl_memos,
    )
    from rippled_historical_database_spark.sources.xrpl import (
        read_ledgers_bronze,
        transactions_bronze,
    )

    tx = {
        "TransactionType": "Payment",
        "Account": "rAaaAaaAaaAaaAaaAaaAaaAaaAaaAaa1",
        "Destination": "rBbbBbbBbbBbbBbbBbbBbbBbbBbbBbb1",
        "Amount": "3000000",
        "Sequence": 3,
        "Fee": "10",
        "Memos": [{"Memo": {"MemoData": data}} for data, _, _ in MEMOS],
        "hash": "B" * 64,
        "metaData": {
            "TransactionIndex": 0,
            "TransactionResult": "tesSUCCESS",
            "AffectedNodes": [],
        },
    }
    d = tmp_path_factory.mktemp("memo_ledgers")
    doc = {
        "ledger_index": 90000002,
        "ledger_hash": "2" * 64,
        "parent_hash": "1" * 64,
        "close_time": CLOSE,
        "total_coins": "99999999999999999",
        "transactions": [tx],
    }
    (d / "ledger-90000002.json").write_text(json.dumps(doc))
    txs = transactions_bronze(read_ledgers_bronze(spark, str(d)))
    return {r.memo_index: r for r in xrpl_memos(txs).collect()}


def test_every_memo_decodes(memos):
    assert sorted(memos) == list(range(len(MEMOS)))


@pytest.mark.parametrize("i", range(len(MEMOS)))
def test_memo_decodes_like_node_buffer(memos, i):
    data, payload, encoding = MEMOS[i]
    m = memos[i]
    assert m.memo_data == data
    assert m.data_encoding == encoding
    assert m.decoded_data == payload.decode("utf-8", "replace")


def test_valid_memo_pin_unchanged(memos):
    assert memos[0].decoded_data == "hello"
