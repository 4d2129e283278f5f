"""Seeded generator of rippled-shaped ledger JSON with planted ground
truth.

Each ledger document has the shape the ``ledger`` RPC returns (header
scalars plus ``transactions`` carrying ``metaData.AffectedNodes``).  The
generator keeps its own account book -- XRP balances in drops, trust
line holdings, resting offers, open escrows and payment channels -- and
writes every transaction's ledger-entry changes from that book, so the
expected outputs are known by construction rather than by running the
parsers:

* XRP and IOU payments (with memos, account creation and a share of
  ``tecPATH_DRY`` failures that only burn the fee);
* OfferCreate that rests (``CreatedNode`` Offer) or crosses a resting
  offer in half or in full, with the offer's BookDirectory quality;
* OfferCancel, AccountSet, escrow create/finish/cancel and payment
  channel create/fund/claim.

The planted truth is the row count of each silver table, each
transaction's net XRP change over its AccountRoot nodes (fee included:
``-fee`` for a plain fee burn, ``-fee`` plus or minus the XRP moved into
or out of an escrow or channel), and the exact decimal fee total.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
from decimal import Decimal

import numpy as np

RIPPLE_ALPHABET = "rpshnaf39wBUDNEGHJKLM4PQRST7VWXYZ2bcdeCg65jkm8oFqi1tuvAxyz"
NEUTRAL_ISSUER = "rrrrrrrrrrrrrrrrrrrrBZbvji"
CURRENCIES = ("USD", "EUR", "BTC")
CLOSE_TIME0 = 700_000_000  # Ripple-epoch seconds (2022-03-08)
LEDGER0 = 80_000_001
TF_FULLY_CANONICAL = 2147483648
TX_WEIGHTS = {
    "xrp_payment": 18, "iou_payment": 14, "failed_payment": 4,
    "new_account": 3, "offer_rest": 14, "offer_cross": 16,
    "offer_cancel": 4, "account_set": 6, "escrow": 8, "paychan": 8,
}


def _address(account_id: bytes) -> str:
    payload = b"\x00" + account_id
    check = hashlib.sha256(hashlib.sha256(payload).digest()).digest()[:4]
    raw = payload + check
    n = int.from_bytes(raw, "big")
    out = ""
    while n:
        n, r = divmod(n, 58)
        out = RIPPLE_ALPHABET[r] + out
    zeros = len(raw) - len(raw.lstrip(b"\x00"))
    return RIPPLE_ALPHABET[0] * zeros + out


def _dec_str(d: Decimal) -> str:
    s = format(d.normalize(), "f")
    return "0" if s in ("-0", "0") else s


def _quality_dir(quality: Decimal, prefix: str) -> str:
    """BookDirectory = 48 hex of book prefix + 16 hex quality: one
    exponent byte (exponent + 100) and a 14-hex-digit mantissa
    normalized to 16 significant decimal digits."""
    sign, digits, exp = quality.normalize().as_tuple()
    mant = int("".join(map(str, digits)))
    while mant < 10**15:
        mant *= 10
        exp -= 1
    return prefix[:48] + f"{exp + 100:02X}{mant:014X}"


class _Book:
    """The generator's own ledger state."""

    def __init__(self, rng, n_accounts: int):
        self.rng = rng
        ids = [hashlib.sha256(f"acct:{int(rng.integers(1 << 62))}:{i}".encode()).digest()[:20]
               for i in range(n_accounts + len(CURRENCIES))]
        self.ids = {_address(i): i for i in ids}
        addrs = list(self.ids)
        self.issuers = dict(zip(CURRENCIES, addrs[:len(CURRENCIES)]))
        self.users = addrs[len(CURRENCIES):]
        self.xrp = {a: int(rng.integers(5_000, 50_000)) * 1_000_000 for a in addrs}
        self.seq = {a: int(rng.integers(1, 1000)) for a in addrs}
        self.iou = {(a, c): Decimal(int(rng.integers(1_000, 100_000)))
                    for a in self.users for c in CURRENCIES}
        self.offers: list[dict] = []
        self.escrows: list[dict] = []
        self.channels: list[dict] = []

    def hex(self, n_bytes: int) -> str:
        return bytes(self.rng.integers(0, 256, n_bytes, dtype=np.uint8)).hex().upper()

    def pick(self, k: int = 1) -> list[str]:
        idx = self.rng.choice(len(self.users), size=k, replace=False)
        return [self.users[i] for i in idx]

    # ---------------------------------------------------- node builders
    def account_node(self, a: str, delta: int, sender: bool) -> dict:
        old = self.xrp[a]
        self.xrp[a] = old + delta
        prev = {"Balance": str(old)}
        final = {"Account": a, "Balance": str(self.xrp[a]), "Flags": 0,
                 "OwnerCount": 0, "Sequence": self.seq[a]}
        if sender:
            prev["Sequence"] = self.seq[a] - 1
        return {"ModifiedNode": {"LedgerEntryType": "AccountRoot",
                                 "LedgerIndex": self.hex(32),
                                 "FinalFields": final, "PreviousFields": prev}}

    def trust_node(self, a: str, cur: str, delta: Decimal) -> dict:
        issuer = self.issuers[cur]
        old = self.iou[(a, cur)]
        self.iou[(a, cur)] = old + delta
        a_low = self.ids[a] < self.ids[issuer]
        low, high = (a, issuer) if a_low else (issuer, a)
        sign = 1 if a_low else -1

        def bal(v: Decimal) -> dict:
            return {"currency": cur, "issuer": NEUTRAL_ISSUER, "value": _dec_str(sign * v)}

        return {"ModifiedNode": {
            "LedgerEntryType": "RippleState", "LedgerIndex": self.hex(32),
            "FinalFields": {
                "Balance": bal(self.iou[(a, cur)]), "Flags": 131072,
                "HighLimit": {"currency": cur, "issuer": high, "value": "1000000000"},
                "LowLimit": {"currency": cur, "issuer": low, "value": "0"},
            },
            "PreviousFields": {"Balance": bal(old)},
        }}


def _half(v):
    return v / 2 if isinstance(v, Decimal) else v // 2


def _amount(v, cur: str | None, issuer: str | None):
    """XRP drops -> drops string; IOU -> {currency, issuer, value}."""
    if cur is None:
        return str(v)
    return {"currency": cur, "issuer": issuer, "value": _dec_str(v)}


class LedgerCorpus:
    """``docs``: ledger documents in ledger order; ``truth``: planted
    expectations (see module docstring)."""

    def __init__(self, seed: int, n_ledgers: int, txs_per_ledger: int,
                 n_accounts: int = 120):
        rng = np.random.Generator(np.random.PCG64(seed))
        self.book = _Book(rng, n_accounts)
        self.rng = rng
        self.rows: Counter = Counter()
        self.xrp_net: dict[str, int] = {}
        self.fee_total = 0
        self.n_iou = 0
        self.docs: list[dict] = []
        kinds = list(TX_WEIGHTS)
        p = np.array([TX_WEIGHTS[k] for k in kinds], dtype=float)
        p /= p.sum()
        parent = "0" * 64
        n_tx = 0
        for i in range(n_ledgers):
            close = CLOSE_TIME0 + 4 * i
            txs = []
            for j in range(txs_per_ledger):
                # every kind once first, so even a tiny corpus fills
                # every silver table
                kind = kinds[n_tx] if n_tx < len(kinds) else kinds[int(rng.choice(len(kinds), p=p))]
                n_tx += 1
                txs.append(self._tx(kind, j, close))
            self.rows["silver_transactions"] += len(txs)
            ledger_hash = self.book.hex(32)
            self.docs.append({
                "ledger_index": LEDGER0 + i, "ledger_hash": ledger_hash,
                "parent_hash": parent, "close_time": close,
                "total_coins": "99999999999999999", "accepted": True,
                "closed": True, "transactions": txs,
            })
            parent = ledger_hash
        self.rows["bronze_ledgers"] = n_ledgers
        self.rows["silver_ledger_fees"] = n_ledgers

    @property
    def truth(self) -> dict:
        return {
            "rows": dict(sorted(self.rows.items())),
            "fee_total_xrp": str(Decimal(self.fee_total) / 1_000_000),
            "xrp_net_drops": dict(self.xrp_net),
            "n_ledgers": len(self.docs),
        }

    # ---------------------------------------------------------- txs
    def _tx(self, kind: str, index: int, close: int) -> dict:
        b, rng = self.book, self.rng
        fee = int(rng.integers(10, 100)) if rng.random() < 0.9 else int(rng.integers(100, 5000))
        (a,) = b.pick()
        b.seq[a] += 1
        tx = {"Account": a, "Fee": str(fee), "Flags": TF_FULLY_CANONICAL,
              "Sequence": b.seq[a] - 1, "LastLedgerSequence": LEDGER0 + 10_000,
              "SigningPubKey": "02" + b.hex(32), "TxnSignature": b.hex(70),
              "hash": b.hex(32)}
        nodes: list[dict] = []
        result = "tesSUCCESS"
        sender_delta = -fee
        getattr(self, f"_{kind}")(tx, nodes, a)
        sender_delta += tx.pop("_sender_delta", 0)
        escrow_flow = tx.pop("_escrow_flow", 0)
        if tx.pop("_failed", False):
            result = "tecPATH_DRY"
        # the sender's AccountRoot always changes (fee) and comes first;
        # escrow and channel steps may resubmit from the other party
        nodes.insert(0, b.account_node(tx["Account"], sender_delta, sender=True))
        tx["metaData"] = {"TransactionIndex": index, "TransactionResult": result,
                          "AffectedNodes": nodes}
        self.fee_total += fee
        # per-tx net XRP over AccountRoot nodes: -fee +/- escrow flow
        net = sum(
            int(n["ModifiedNode"]["FinalFields"]["Balance"]) - int(n["ModifiedNode"]["PreviousFields"]["Balance"])
            if "ModifiedNode" in n and n["ModifiedNode"]["LedgerEntryType"] == "AccountRoot"
            else int(n["CreatedNode"]["NewFields"]["Balance"])
            if "CreatedNode" in n and n["CreatedNode"]["LedgerEntryType"] == "AccountRoot"
            else 0
            for n in nodes
        )
        if net != -fee + escrow_flow:  # conservation, by construction
            raise AssertionError(f"generator broke XRP conservation in {kind}")
        self.xrp_net[tx["hash"]] = net
        self._count_balance_rows(tx, nodes, result, fee)
        return tx

    def _count_balance_rows(self, tx, nodes, result, fee) -> None:
        """silver_balance_changes: one fee row, one row per AccountRoot
        whose non-fee change is non-zero, two mirrored rows per changed
        RippleState (Payment/OfferCreate only)."""
        n = 1
        for w in nodes:
            (klass, node), = w.items()
            if node["LedgerEntryType"] == "AccountRoot":
                if klass == "CreatedNode":
                    n += 1
                    continue
                delta = int(node["FinalFields"]["Balance"]) - int(node["PreviousFields"]["Balance"])
                if node["FinalFields"]["Account"] == tx["Account"]:
                    delta += fee
                n += delta != 0
            elif node["LedgerEntryType"] == "RippleState" and tx["TransactionType"] in ("Payment", "OfferCreate"):
                n += 2
        self.rows["silver_balance_changes"] += n

    def _xrp_payment(self, tx, nodes, a, new_account: bool = False) -> None:
        b = self.book
        amt = int(self.rng.integers(1, 2000)) * 1_000_000 // int(self.rng.integers(1, 9))
        tx.update(TransactionType="Payment", Amount=str(amt))
        if new_account:
            dest = _address(hashlib.sha256(f"new:{b.hex(8)}".encode()).digest()[:20])
            b.xrp[dest], b.seq[dest] = amt, 1
            nodes.append({"CreatedNode": {"LedgerEntryType": "AccountRoot",
                                          "LedgerIndex": b.hex(32),
                                          "NewFields": {"Account": dest, "Balance": str(amt), "Sequence": 1}}})
            self.rows["silver_accounts_created"] += 1
        else:
            dest = next(d for d in b.pick(2) if d != a)
            nodes.append(b.account_node(dest, amt, sender=False))
        tx["Destination"] = dest
        if self.rng.random() < 0.3:
            tx["DestinationTag"] = int(self.rng.integers(1, 1 << 31))
        tx["_sender_delta"] = -amt
        self.rows["silver_payments"] += 1

    def _new_account(self, tx, nodes, a) -> None:
        self._xrp_payment(tx, nodes, a, new_account=True)

    def _iou_payment(self, tx, nodes, a, failed: bool = False) -> None:
        b = self.book
        cur = CURRENCIES[int(self.rng.integers(0, len(CURRENCIES)))]
        dest = next(d for d in b.pick(2) if d != a)
        v = Decimal(int(self.rng.integers(1, 500_000))) / 1000
        tx.update(TransactionType="Payment", Destination=dest,
                  Amount=_amount(v, cur, b.issuers[cur]))
        if failed:
            tx["_failed"] = True
            return
        nodes.append(b.trust_node(a, cur, -v))
        nodes.append(b.trust_node(dest, cur, v))
        self.rows["silver_payments"] += 1
        self.n_iou += 1
        if self.n_iou % 2:
            tx["Memos"] = [{"Memo": {"MemoType": "client".encode().hex().upper(),
                                     "MemoData": "perfbench".encode().hex().upper()}},
                           # UTF-8 text: non-UTF-8 MemoData makes the
                           # silver_memos decode raise
                           {"Memo": {"MemoData": f"ref {b.hex(4)}".encode().hex().upper()}}]
            self.rows["silver_memos"] += 2
            self.rows["silver_tx_client"] += 1

    def _failed_payment(self, tx, nodes, a) -> None:
        self._iou_payment(tx, nodes, a, failed=True)

    def _offer_node_fields(self, o: dict) -> dict:
        return {"Account": o["owner"], "Sequence": o["seq"], "Flags": 0,
                "TakerPays": o["pays"](o["p"]), "TakerGets": o["gets"](o["g"]),
                "BookDirectory": o["dir"]}

    def _offer_rest(self, tx, nodes, a) -> None:
        b = self.book
        cur = CURRENCIES[int(self.rng.integers(0, len(CURRENCIES)))]
        iss = b.issuers[cur]
        drops = int(self.rng.integers(1, 500)) * 2_000_000
        iou = Decimal(int(self.rng.integers(1, 400_000))) / 100_000 * 2
        if self.rng.random() < 0.5:  # wants IOU, gives XRP
            o = {"p": iou, "g": drops, "pays": lambda v, c=cur, i=iss: _amount(v, c, i),
                 "gets": lambda v: _amount(v, None, None), "p_cur": cur, "g_cur": None}
            quality = iou / drops
        else:  # wants XRP, gives IOU
            o = {"p": drops, "g": iou, "pays": lambda v: _amount(v, None, None),
                 "gets": lambda v, c=cur, i=iss: _amount(v, c, i), "p_cur": None, "g_cur": cur}
            quality = drops / iou
        o.update(owner=a, seq=tx["Sequence"], halved=0, dir=_quality_dir(quality, b.hex(32)))
        tx.update(TransactionType="OfferCreate", TakerPays=o["pays"](o["p"]),
                  TakerGets=o["gets"](o["g"]))
        nodes.append({"CreatedNode": {"LedgerEntryType": "Offer", "LedgerIndex": b.hex(32),
                                      "NewFields": self._offer_node_fields(o)}})
        b.offers.append(o)
        self.rows["silver_offers"] += 1

    def _offer_cross(self, tx, nodes, a) -> None:
        b = self.book
        live = [o for o in b.offers if o["owner"] != a]
        if not live:
            return self._offer_rest(tx, nodes, a)
        o = live[int(self.rng.integers(0, len(live)))]
        # halve at most twice, so IOU values keep <= 16 significant digits
        full = o["halved"] >= 2 or self.rng.random() < 0.4
        o["halved"] += 1
        fp = o["p"] if full else _half(o["p"])
        fg = o["g"] if full else _half(o["g"])
        # taker gives what the maker wants (fp) and gets what it offers (fg)
        tx.update(TransactionType="OfferCreate", TakerPays=o["gets"](fg), TakerGets=o["pays"](fp))
        prev = self._offer_node_fields(o)
        o["p"], o["g"] = o["p"] - fp, o["g"] - fg
        final = self._offer_node_fields(o)
        klass = "DeletedNode" if full else "ModifiedNode"
        nodes.append({klass: {"LedgerEntryType": "Offer", "LedgerIndex": b.hex(32),
                              "FinalFields": final,
                              "PreviousFields": {"TakerPays": prev["TakerPays"],
                                                 "TakerGets": prev["TakerGets"]}}})
        if full:
            b.offers.remove(o)
        m = o["owner"]
        if o["p_cur"] is None:  # maker receives XRP, gives IOU
            nodes.append(b.account_node(m, fp, sender=False))
            tx["_sender_delta"] = -fp
            nodes.append(b.trust_node(m, o["g_cur"], -fg))
            nodes.append(b.trust_node(a, o["g_cur"], fg))
        else:  # maker receives IOU, gives XRP
            nodes.append(b.account_node(m, -fg, sender=False))
            tx["_sender_delta"] = fg
            nodes.append(b.trust_node(m, o["p_cur"], fp))
            nodes.append(b.trust_node(a, o["p_cur"], -fp))
        self.rows["silver_offers"] += 1
        self.rows["silver_exchanges"] += 1

    def _offer_cancel(self, tx, nodes, a) -> None:
        b = self.book
        mine = [o for o in b.offers if o["owner"] == a]
        if not mine:
            return self._account_set(tx, nodes, a)
        o = mine[0]
        tx.update(TransactionType="OfferCancel", OfferSequence=o["seq"])
        nodes.append({"DeletedNode": {"LedgerEntryType": "Offer", "LedgerIndex": b.hex(32),
                                      "FinalFields": self._offer_node_fields(o)}})
        b.offers.remove(o)
        self.rows["silver_offers"] += 1

    def _account_set(self, tx, nodes, a) -> None:
        tx.update(TransactionType="AccountSet", SetFlag=int(self.rng.integers(1, 9)))

    def _escrow(self, tx, nodes, a) -> None:
        b = self.book
        close = CLOSE_TIME0
        if b.escrows and self.rng.random() < 0.5:
            e = b.escrows.pop(0)
            finish = self.rng.random() < 0.7
            who = e["dest"] if finish else e["owner"]
            if who != a:  # resubmit from the party that may act
                b.seq[a] -= 1
                b.seq[who] += 1
                tx.update(Account=who, Sequence=b.seq[who] - 1)
                a = who
            tx.update(TransactionType="EscrowFinish" if finish else "EscrowCancel",
                      Owner=e["owner"], OfferSequence=e["seq"])
            nodes.append({"DeletedNode": {"LedgerEntryType": "Escrow", "LedgerIndex": b.hex(32),
                                          "FinalFields": {"Account": e["owner"], "Destination": e["dest"],
                                                          "Amount": str(e["amt"]), "FinishAfter": e["after"],
                                                          "PreviousTxnID": e["hash"]}}})
            tx["_sender_delta"] = e["amt"]
            tx["_escrow_flow"] = e["amt"]
        else:
            dest = next(d for d in b.pick(2) if d != a)
            amt = int(self.rng.integers(1, 100)) * 1_000_000
            after = close + int(self.rng.integers(100, 10_000))
            tx.update(TransactionType="EscrowCreate", Destination=dest, Amount=str(amt),
                      FinishAfter=after)
            nodes.append({"CreatedNode": {"LedgerEntryType": "Escrow", "LedgerIndex": b.hex(32),
                                          "NewFields": {"Account": a, "Destination": dest,
                                                        "Amount": str(amt), "FinishAfter": after}}})
            b.escrows.append({"owner": a, "dest": dest, "amt": amt, "seq": tx["Sequence"],
                              "after": after, "hash": tx["hash"]})
            tx["_sender_delta"] = -amt
            tx["_escrow_flow"] = -amt
        self.rows["silver_escrows"] += 1

    def _paychan(self, tx, nodes, a) -> None:
        b = self.book
        roll = self.rng.random()
        if b.channels and roll < 0.6:
            c = b.channels[int(self.rng.integers(0, len(b.channels)))]
            fields = {"Account": c["src"], "Destination": c["dest"], "Amount": str(c["amt"]),
                      "Balance": str(c["bal"]), "SettleDelay": 3600, "PublicKey": c["pk"]}
            if roll < 0.3 and c["bal"] < c["amt"]:  # destination claims
                who = c["dest"]
                claim = (c["amt"] - c["bal"]) // 2 or (c["amt"] - c["bal"])
                prev = {"Balance": str(c["bal"])}
                c["bal"] += claim
                tx.update(TransactionType="PaymentChannelClaim", Channel=c["id"],
                          Balance=str(c["bal"]), Amount=str(c["amt"]),
                          Signature=b.hex(64), PublicKey=c["pk"])
                flow = claim
            else:  # source adds funds
                who = c["src"]
                add = int(self.rng.integers(1, 50)) * 1_000_000
                prev = {"Amount": str(c["amt"])}
                c["amt"] += add
                tx.update(TransactionType="PaymentChannelFund", Channel=c["id"], Amount=str(add))
                flow = -add
            if who != a:
                b.seq[a] -= 1
                b.seq[who] += 1
                tx.update(Account=who, Sequence=b.seq[who] - 1)
            fields.update(Amount=str(c["amt"]), Balance=str(c["bal"]))
            nodes.append({"ModifiedNode": {"LedgerEntryType": "PayChannel", "LedgerIndex": b.hex(32),
                                           "FinalFields": fields, "PreviousFields": prev}})
            tx["_sender_delta"] = flow
            tx["_escrow_flow"] = flow
        else:
            dest = next(d for d in b.pick(2) if d != a)
            amt = int(self.rng.integers(1, 100)) * 1_000_000
            c = {"id": b.hex(32), "src": a, "dest": dest, "amt": amt, "bal": 0,
                 "pk": "ED" + b.hex(32)}
            b.channels.append(c)
            tx.update(TransactionType="PaymentChannelCreate", Destination=dest, Amount=str(amt),
                      SettleDelay=3600, PublicKey=c["pk"])
            nodes.append({"CreatedNode": {"LedgerEntryType": "PayChannel", "LedgerIndex": b.hex(32),
                                          "NewFields": {"Account": a, "Destination": dest,
                                                        "Amount": str(amt), "SettleDelay": 3600,
                                                        "PublicKey": c["pk"]}}})
            tx["_sender_delta"] = -amt
            tx["_escrow_flow"] = -amt
        self.rows["silver_payment_channels"] += 1


def write_corpus(corpus: LedgerCorpus, out_dir: str) -> tuple[list[str], int, str]:
    """Write one ``ledger-<index>.json`` per ledger; returns (paths,
    total bytes, content hash)."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    paths, total = [], 0
    for doc in corpus.docs:
        blob = json.dumps(doc, separators=(",", ":")).encode()
        p = os.path.join(out_dir, f"ledger-{doc['ledger_index']}.json")
        with open(p, "wb") as f:
            f.write(blob)
        h.update(blob)
        paths.append(p)
        total += len(blob)
    return paths, total, h.hexdigest()[:16]
