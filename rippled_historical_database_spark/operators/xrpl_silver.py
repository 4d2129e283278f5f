"""Silver parsers over real XRPL ledger JSON (VARIANT bronze).

These are the reference's ledgerParser functions re-expressed as pure
column-expression pipelines over the exploded AffectedNodes frame
(``sources/xrpl.py``) -- no Python UDFs anywhere, including the
BookDirectory quality decode (``conv`` + arithmetic):

  * exchanges        -- lib/ledgerParser/exchanges.js:11-199
  * quality decode   -- lib/ledgerParser/quality.js:5-21
  * balance changes  -- lib/ledgerParser/balanceChanges.js:12-342
  * accounts created -- lib/ledgerParser/accountsCreated.js:3-26
  * fee summary      -- lib/ledgerParser/fees.js:3-33

Amount duality (XRP drops string vs IOU {currency, issuer, value}
object) maps ``typeof x === 'object'`` -> ``$.path.value IS NOT NULL``.
Decimal(38,18) arithmetic mirrors BigNumber exactness; division by 1e6
converts drops.

Scale: everything up to the final projection is a narrow map over the
node explode -- zero shuffles; at 100 TB the silver build is
embarrassingly parallel per date partition, and event order is carried
by (ledger_index, tx_index, node_index) columns rather than rowkeys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.xrpl import DEC, XRP_ADJUST, vstr

SUCCESS = "tesSUCCESS"


def _dec(c: Column) -> Column:
    return c.cast(DEC)


def _js_falsy(c: Column) -> Column:
    """JS truthiness for a NUMERIC tx field: 0 is falsy, so both the
    `a || b` fallback chains (escrow.js:53-56) and the `if (tx.X)`
    guards (payment.js:44-47, memos.js:86-92, paychan.js:66-74,
    escrow.js:60-68) treat a literal 0 exactly like absent.  The
    parsers mirror that verbatim -- a valid DestinationTag 0, a
    ticket-based Sequence 0, or a CancelAfter/Expiration of 0 produces
    the same fall-through/NULL the reference emits (pinned on synthetic
    zero-value txs in tests/test_js_falsy_pins.py).  String fields
    (Amount drops, addresses, hashes) keep plain coalesce: "0" is
    truthy in JS, and empty strings don't occur in ledger JSON."""
    return F.nullif(c, F.lit(0))


def _js_or(a: Column, b: Column) -> Column:
    """JS `a || b` over numeric columns: falls through on 0 AND null.
    Note b is returned as-is (JS || yields the last operand even when
    falsy), so a trailing 0 survives."""
    return F.coalesce(_js_falsy(a), b)


def _amount_fields(node_col: str, field: str) -> tuple[Column, Column, Column]:
    """(is_iou, currency, issuer) for PreviousFields.<field>, branching
    on object-ness exactly like exchanges.js:57-99."""
    prev_val = vstr(node_col, f"$.PreviousFields.{field}.value")
    is_iou = prev_val.isNotNull()
    currency = F.when(is_iou, vstr(node_col, f"$.PreviousFields.{field}.currency")).otherwise("XRP")
    issuer = F.when(is_iou, vstr(node_col, f"$.PreviousFields.{field}.issuer"))
    return is_iou, currency, issuer


def _amount_change(node_col: str, field: str, is_iou: Column) -> Column:
    """Previous - Final for one side, drops/1e6 when XRP."""
    prev_iou = _dec(vstr(node_col, f"$.PreviousFields.{field}.value"))
    final_iou = F.coalesce(_dec(vstr(node_col, f"$.FinalFields.{field}.value")), F.lit(0).cast(DEC))
    prev_xrp = _dec(vstr(node_col, f"$.PreviousFields.{field}"))
    final_xrp = F.coalesce(_dec(vstr(node_col, f"$.FinalFields.{field}")), F.lit(0).cast(DEC))
    return F.when(is_iou, prev_iou - final_iou).otherwise(
        (prev_xrp - final_xrp) / XRP_ADJUST
    )


def _quality_rate(bd: Column, base_cur: Column, counter_cur: Column) -> Column:
    """BookDirectory quality (quality.js:5-21): last 16 hex chars =
    exponent byte (minus 100) + 14-hex-digit mantissa; XRP sides shift
    by -6 (numerator: base/pays, denominator: counter/gets)."""
    qhex = F.right(bd, F.lit(16))
    offset = F.conv(F.substring(qhex, 1, 2), 16, 10).cast("int") - 100
    mantissa = F.conv(F.substring(qhex, 3, 14), 16, 10).cast("decimal(38,0)")
    shift = (
        F.when(base_cur == "XRP", -6).otherwise(0)
        - F.when(counter_cur == "XRP", -6).otherwise(0)
    )
    return mantissa.cast("double") * F.pow(F.lit(10.0), (offset + shift).cast("double"))


def xrpl_exchanges(nodes: DataFrame) -> DataFrame:
    """exchanges(tx): every Modified/Deleted Offer node of a successful
    Payment/OfferCreate whose PreviousFields carry both TakerPays and
    TakerGets is one exchange; canonical pair ordering swaps sides
    lexicographically (exchanges.js:174-199)."""
    n = nodes.filter(
        (F.col("result") == SUCCESS)
        & F.col("tx_type").isin("Payment", "OfferCreate")
        & (F.col("node_class") != "CreatedNode")
        & (F.col("entry_type") == "Offer")
        & vstr("node", "$.PreviousFields.TakerPays").isNotNull()
        & vstr("node", "$.PreviousFields.TakerGets").isNotNull()
    )

    pays_iou, pays_cur, pays_iss = _amount_fields("node", "TakerPays")
    gets_iou, gets_cur, gets_iss = _amount_fields("node", "TakerGets")
    n = n.select(
        "ledger_index", "executed_time", "tx_index", "node_index",
        "tx_hash", "tx_type", "tx", "node",
        F.col("account").alias("taker"),
        vstr("node", "$.FinalFields.Account").alias("provider"),
        vstr("node", "$.FinalFields.Sequence").cast("long").alias("offer_sequence"),
        pays_cur.alias("p_cur"), pays_iss.alias("p_iss"),
        gets_cur.alias("g_cur"), gets_iss.alias("g_iss"),
        _amount_change("node", "TakerPays", pays_iou).alias("p_amt"),
        _amount_change("node", "TakerGets", gets_iou).alias("g_amt"),
        vstr("node", "$.FinalFields.BookDirectory").alias("book_dir"),
    )

    # rate: quality decode, falling back (like the try/catch + falsy
    # check) to base/counter when the directory is absent or zero.
    quality = _quality_rate(F.col("book_dir"), F.col("p_cur"), F.col("g_cur"))
    fallback = (F.col("p_amt") / F.col("g_amt")).cast("double")
    rate0 = F.when(
        F.col("book_dir").isNotNull() & quality.isNotNull() & (quality != 0), quality
    ).otherwise(fallback)

    # autobridge detection on the PRE-swap sides (exchanges.js:135-166).
    tx_pays_cur = vstr("tx", "$.TakerPays.currency")
    tx_pays_iss = vstr("tx", "$.TakerPays.issuer")
    tx_gets_cur = vstr("tx", "$.TakerGets.currency")
    tx_gets_iss = vstr("tx", "$.TakerGets.issuer")
    bridged = (
        (F.col("tx_type") == "OfferCreate")
        & tx_pays_cur.isNotNull()
        & tx_gets_cur.isNotNull()
    )
    auto_is_gets = bridged & (
        ((F.col("g_cur") == "XRP") & (F.col("p_cur") == tx_pays_cur))
        | ((F.col("p_cur") == "XRP") & (F.col("g_cur") == tx_pays_cur))
    )
    auto_is_pays = bridged & ~auto_is_gets & (
        ((F.col("g_cur") == "XRP") & (F.col("p_cur") == tx_gets_cur))
        | ((F.col("p_cur") == "XRP") & (F.col("g_cur") == tx_gets_cur))
    )
    n = n.select(
        "*",
        rate0.alias("rate0"),
        F.when(auto_is_gets, tx_gets_cur).when(auto_is_pays, tx_pays_cur).alias("autobridged_currency"),
        F.when(auto_is_gets, tx_gets_iss).when(auto_is_pays, tx_pays_iss).alias("autobridged_issuer"),
    )

    # canonical ordering (exchanges.js:179-199): JS string concat keeps
    # the literal 'undefined' for the missing XRP issuer -- replicated
    # so the swap decision is bit-identical.
    c1 = F.lower(F.concat(F.col("p_cur"), F.coalesce(F.col("p_iss"), F.lit("undefined"))))
    c2 = F.lower(F.concat(F.col("g_cur"), F.coalesce(F.col("g_iss"), F.lit("undefined"))))
    swap = c2 < c1
    return n.select(
        "ledger_index", "executed_time", "tx_index", "node_index",
        "tx_hash", "tx_type", "offer_sequence", "taker", "provider",
        F.when(swap, F.col("g_cur")).otherwise(F.col("p_cur")).alias("base_currency"),
        F.when(swap, F.col("g_iss")).otherwise(F.col("p_iss")).alias("base_issuer"),
        F.when(swap, F.col("g_amt")).otherwise(F.col("p_amt")).cast("double").alias("base_amount"),
        F.when(swap, F.col("p_cur")).otherwise(F.col("g_cur")).alias("counter_currency"),
        F.when(swap, F.col("p_iss")).otherwise(F.col("g_iss")).alias("counter_issuer"),
        F.when(swap, F.col("p_amt")).otherwise(F.col("g_amt")).cast("double").alias("counter_amount"),
        F.when(swap, F.col("rate0")).otherwise(1.0 / F.col("rate0")).alias("rate"),
        F.when(swap, F.col("taker")).otherwise(F.col("provider")).alias("buyer"),
        F.when(swap, F.col("provider")).otherwise(F.col("taker")).alias("seller"),
        "autobridged_currency", "autobridged_issuer",
    )


def _find_type(account: Column, currency: Column, final_balance: Column) -> Column:
    """The 9-branch change-type classifier (balanceChanges.js:23-93),
    evaluated against tx-level columns present on the frame (``account``
    here is the balance-change owner; ``tx_account`` the tx sender)."""
    tx_type = F.col("tx_type")
    tx_account = F.col("tx_account")
    dest = vstr("tx", "$.Destination")
    amount_cur = vstr("tx", "$.Amount.currency")  # null => XRP amount
    sendmax = vstr("tx", "$.SendMax")
    sendmax_cur = vstr("tx", "$.SendMax.currency")
    neg = final_balance < 0
    return (
        F.when((tx_type == "OfferCreate") & neg, "intermediary")
        .when(tx_type == "OfferCreate", "exchange")
        .when((tx_type == "Payment") & (tx_account == dest) & neg, "intermediary")
        .when((tx_type == "Payment") & (tx_account == dest), "exchange")
        .when(
            (tx_type == "Payment") & (account == dest)
            & amount_cur.isNotNull() & (amount_cur == currency),
            "payment_destination",
        )
        .when(
            (tx_type == "Payment") & (account == dest)
            & amount_cur.isNull() & (currency == "XRP"),
            "payment_destination",
        )
        .when(
            (tx_type == "Payment") & (account == tx_account)
            & sendmax_cur.isNotNull() & (sendmax_cur == currency),
            "payment_source",
        )
        .when(
            (tx_type == "Payment") & (account == tx_account)
            & sendmax.isNotNull() & (currency == "XRP"),
            "payment_source",
        )
        .when(
            (tx_type == "Payment") & (account == tx_account)
            & amount_cur.isNotNull() & (amount_cur == currency),
            "payment_source",
        )
        .when(
            (tx_type == "Payment") & (account == tx_account)
            & amount_cur.isNull() & (currency == "XRP"),
            "payment_source",
        )
        .when((tx_type == "Payment") & neg, "intermediary")
        .when(tx_type == "Payment", "exchange")
    )


def xrpl_balance_changes(nodes: DataFrame) -> DataFrame:
    """balanceChanges(tx): AccountRoot XRP deltas with the fee split out
    as its own row (node_index -1), RippleState IOU deltas mirrored for
    both parties, change-type classifier, escrow/paychan enrichment."""
    ok = nodes.withColumnRenamed("account", "tx_account").filter(
        (F.col("result") == SUCCESS) | F.col("result").startswith("tec")
    )

    # --- AccountRoot (balanceChanges.js:99-168) ---------------------
    ar = ok.filter(F.col("entry_type") == "AccountRoot")
    has_both = (
        vstr("node", "$.FinalFields.Balance").isNotNull()
        & vstr("node", "$.PreviousFields.Balance").isNotNull()
    )
    is_new = vstr("node", "$.NewFields.Balance").isNotNull()
    ar = ar.filter(has_both | is_new).select(
        "*",
        F.when(has_both, _dec(vstr("node", "$.FinalFields.Balance")))
        .otherwise(_dec(vstr("node", "$.NewFields.Balance")))
        .alias("bal_drops"),
        F.when(has_both, _dec(vstr("node", "$.PreviousFields.Balance")))
        .otherwise(F.lit(0).cast(DEC))
        .alias("prev_drops"),
        F.when(has_both, vstr("node", "$.FinalFields.Account"))
        .otherwise(vstr("node", "$.NewFields.Account"))
        .alias("owner"),
    )
    change = F.col("bal_drops") - F.col("prev_drops")
    is_fee_payer = F.col("tx_account") == F.col("owner")
    fee = -F.col("fee_drops")
    amount = F.when(is_fee_payer, change - fee).otherwise(change)
    ar = ar.select("*", amount.alias("amt_drops"))

    fee_rows = ar.filter(is_fee_payer).select(
        F.col("owner").alias("account"),
        F.lit(None).cast("string").alias("counterparty"),
        F.lit("XRP").alias("currency"),
        (fee / XRP_ADJUST).cast("double").alias("change"),
        ((F.col("bal_drops") - F.col("amt_drops")) / XRP_ADJUST).cast("double").alias("final_balance"),
        "executed_time", "ledger_index", "tx_index",
        F.lit(-1).alias("node_index"),
        "tx_hash",
        F.lit("fee").alias("change_type"),
    )
    xrp_fb = (F.col("bal_drops") / XRP_ADJUST).cast("double")
    xrp_rows = ar.filter(F.col("amt_drops") != 0).select(
        F.col("owner").alias("bc_account"),
        F.lit(None).cast("string").alias("counterparty"),
        F.lit("XRP").alias("currency"),
        (F.col("amt_drops") / XRP_ADJUST).cast("double").alias("change"),
        xrp_fb.alias("final_balance"),
        "executed_time", "ledger_index", "tx_index", "node_index", "tx_hash",
        # the .alias() keeps the three `currency == "XRP"` branches in
        # _find_type from building an identical-expression equals
        # (lit('XRP') === lit('XRP')) that Spark warns about per-plan.
        _find_type(F.col("owner"), F.lit("XRP").alias("xrp_cur"), xrp_fb).alias("change_type"),
    ).withColumnRenamed("bc_account", "account")

    # --- RippleState (balanceChanges.js:176-249) --------------------
    rs = ok.filter(
        (F.col("entry_type") == "RippleState")
        & F.col("tx_type").isin("Payment", "OfferCreate")
    )
    nf_val = vstr("node", "$.NewFields.Balance.value")
    pf_val = vstr("node", "$.PreviousFields.Balance.value")
    rs = rs.filter(
        (nf_val.isNotNull() & (nf_val != "0")) | pf_val.isNotNull()
    ).select(
        "*",
        F.when(nf_val.isNotNull(), vstr("node", "$.NewFields.Balance.currency"))
        .otherwise(vstr("node", "$.FinalFields.Balance.currency")).alias("iou_cur"),
        F.when(nf_val.isNotNull(), vstr("node", "$.NewFields.HighLimit.issuer"))
        .otherwise(vstr("node", "$.FinalFields.HighLimit.issuer")).alias("high"),
        F.when(nf_val.isNotNull(), vstr("node", "$.NewFields.LowLimit.issuer"))
        .otherwise(vstr("node", "$.FinalFields.LowLimit.issuer")).alias("low"),
        F.when(nf_val.isNotNull(), _dec(nf_val))
        .otherwise(_dec(vstr("node", "$.FinalFields.Balance.value"))).alias("iou_bal"),
        F.when(nf_val.isNotNull(), _dec(nf_val))
        .otherwise(
            _dec(vstr("node", "$.FinalFields.Balance.value")) - _dec(pf_val)
        ).alias("iou_chg"),
    )

    def _rs_rows(party: str, other: str, sign: int) -> DataFrame:
        fb = (F.lit(sign) * F.col("iou_bal")).cast("double")
        return rs.select(
            F.col(party).alias("bc_account"),
            F.col(other).alias("counterparty"),
            F.col("iou_cur").alias("currency"),
            (F.lit(sign) * F.col("iou_chg")).cast("double").alias("change"),
            fb.alias("final_balance"),
            "executed_time", "ledger_index", "tx_index", "node_index", "tx_hash",
            _find_type(F.col(party), F.col("iou_cur"), fb).alias("change_type"),
        ).withColumnRenamed("bc_account", "account")

    iou_rows = _rs_rows("low", "high", 1).unionByName(_rs_rows("high", "low", -1))

    rows = fee_rows.unionByName(xrp_rows).unionByName(iou_rows)

    # --- escrow / paychan enrichment (balanceChanges.js:276-340) ----
    parties = _entry_parties(ok, "Escrow").unionByName(
        _entry_parties(ok, "PayChannel")
    )
    # parties grows with tx volume (escrow/paychan rows): shuffle join on
    # tx_hash, AQE broadcasts it at runtime while it stays small
    rows = (
        rows.join(
            parties,
            on=[
                rows.tx_hash == parties.p_tx_hash,
                rows.account == parties.party,
                rows.change_type.isNull(),
            ],
            how="left",
        )
        .select(
            rows.account, "counterparty", "currency", "change", "final_balance",
            rows.executed_time, rows.ledger_index, rows.tx_index,
            rows.node_index, rows.tx_hash,
            F.coalesce(F.col("enriched_type"), F.col("change_type")).alias("change_type"),
            F.col("e_counterparty").alias("escrow_counterparty"),
            F.col("e_change").alias("escrow_balance_change"),
        )
    )
    return rows


def _entry_parties(ok: DataFrame, entry: str) -> DataFrame:
    """(tx_hash, party) -> enrichment rows for Escrow/PayChannel nodes
    (last node per party wins, matching the JS map overwrite)."""
    e = ok.filter(F.col("entry_type") == entry)
    fields = F.coalesce(
        F.try_variant_get("node", "$.NewFields", "variant"),
        F.try_variant_get("node", "$.FinalFields", "variant"),
    )
    e = e.select(
        F.col("tx_hash").alias("p_tx_hash"), "tx_type", "node_index",
        vstr(fields, "$.Account").alias("e_account"),
        vstr(fields, "$.Destination").alias("e_destination"),
        (_dec(vstr(fields, "$.Amount")) / XRP_ADJUST).cast("double").alias("e_amount"),
    )
    both = e.select(
        "p_tx_hash", "tx_type", "node_index", "e_account", "e_destination",
        "e_amount", F.col("e_account").alias("party"),
    ).unionByName(
        e.select(
            "p_tx_hash", "tx_type", "node_index", "e_account", "e_destination",
            "e_amount", F.col("e_destination").alias("party"),
        )
    )
    latest = both.groupBy("p_tx_hash", "party").agg(
        F.max_by(
            F.struct("tx_type", "e_account", "e_destination", "e_amount"),
            "node_index",
        ).alias("s")
    ).select("p_tx_hash", "party", "s.*")
    if entry == "Escrow":
        etype = (
            F.when(F.col("tx_type") == "EscrowCreate", "escrow_create")
            .when(F.col("tx_type") == "EscrowCancel", "escrow_cancel")
            .when(F.col("tx_type") == "EscrowFinish", "escrow_finish")
        )
        echg = F.when(
            F.col("tx_type") == "EscrowCreate", F.col("e_amount")
        ).otherwise(-F.col("e_amount"))
        other = F.col("e_destination")
    else:
        etype = F.when(
            F.col("party") == F.col("e_account"), "paychannel_fund"
        ).otherwise("paychannel_payout")
        echg = F.lit(None).cast("double")
        other = F.when(
            F.col("party") == F.col("e_account"), F.col("e_destination")
        ).otherwise(F.col("e_account"))
    return latest.select(
        "p_tx_hash", "party",
        etype.alias("enriched_type"),
        other.alias("e_counterparty"),
        echg.alias("e_change"),
    )


def xrpl_accounts_created(nodes: DataFrame) -> DataFrame:
    """accountsCreated(tx) (accountsCreated.js:3-26)."""
    return nodes.filter(
        (F.col("result") == SUCCESS)
        & (F.col("node_class") == "CreatedNode")
        & (F.col("entry_type") == "AccountRoot")
    ).select(
        vstr("node", "$.NewFields.Account").alias("new_account"),
        F.col("account").alias("parent"),
        (_dec(vstr("node", "$.NewFields.Balance")) / XRP_ADJUST)
        .cast("double")
        .alias("balance"),
        "executed_time", "ledger_index", "tx_index", "tx_hash",
    )


def xrpl_fee_summary(txs: DataFrame) -> DataFrame:
    """summarizeFees(ledger) (fees.js:3-33): per-ledger fee stats in
    XRP -- one groupBy, decimal-exact."""
    fee_xrp = (F.col("fee_drops") / XRP_ADJUST).cast(DEC)
    return txs.groupBy("ledger_index").agg(
        F.sum(fee_xrp).cast("double").alias("total"),
        F.min(fee_xrp).cast("double").alias("min"),
        F.max(fee_xrp).cast("double").alias("max"),
        (F.sum(fee_xrp) / F.count("*")).cast("double").alias("avg"),
        F.count("*").alias("tx_count"),
        F.max("executed_time").alias("date"),
    )


# hex / base64 detection (memos.js:1-2) -- anchored exactly like the JS
HEX_RE = r"^(0x)?[0-9A-Fa-f]+$"
B64_RE = (
    r"^(?:[A-Za-z0-9+/]{4})*"
    r"(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=|[A-Za-z0-9+/]{4})(=){0,2}$"
)


def xrpl_offers(nodes: DataFrame) -> DataFrame:
    """offers(tx) (offers.js:6-182): every Offer node of successful
    Payment/OfferCancel/OfferCreate txs becomes an offer-change event;
    the seven-way change_type decision table (offers.js:145-174) is a
    when-cascade; prev/next offer sequence linkage and epoch-adjusted
    expiration included."""
    n = nodes.filter(
        (F.col("result") == SUCCESS)
        & F.col("tx_type").isin("Payment", "OfferCancel", "OfferCreate")
        & (F.col("entry_type") == "Offer")
    )
    fields = F.coalesce(
        F.try_variant_get("node", "$.NewFields", "variant"),
        F.try_variant_get("node", "$.FinalFields", "variant"),
    )
    n = n.filter(fields.isNotNull()).select(
        "*",
        fields.alias("fields"),
        vstr("tx", "$.OfferSequence").cast("long").alias("tx_offer_seq"),
        vstr("tx", "$.Sequence").cast("long").alias("tx_seq"),
    )

    def amt(side: str) -> tuple[Column, Column, Column]:
        iou_val = vstr("fields", f"$.{side}.value")
        is_iou = iou_val.isNotNull()
        cur = F.when(is_iou, vstr("fields", f"$.{side}.currency")).otherwise("XRP")
        iss = F.when(is_iou, vstr("fields", f"$.{side}.issuer"))
        val = F.when(is_iou, _dec(iou_val)).otherwise(
            _dec(vstr("fields", f"$.{side}")) / XRP_ADJUST
        )
        return cur, iss, val

    pays_cur, pays_iss, pays_val = amt("TakerPays")
    gets_cur, gets_iss, gets_val = amt("TakerGets")

    def chg(side: str, cur: Column, cur_val: Column) -> Column:
        prev_scalar = vstr("node", f"$.PreviousFields.{side}")
        prev_iou = vstr("node", f"$.PreviousFields.{side}.value")
        has_prev_node = vstr("node", "$.PreviousFields").isNotNull()
        return (
            F.when(~has_prev_node | prev_scalar.isNull(), F.lit(0).cast(DEC))
            .when(cur == "XRP", _dec(prev_scalar) / XRP_ADJUST - cur_val)
            .otherwise(_dec(prev_iou) - cur_val)
        )

    pays_change = chg("TakerPays", pays_cur, pays_val)
    gets_change = chg("TakerGets", gets_cur, gets_val)
    has_prev = vstr("node", "$.PreviousFields").isNotNull()
    owner = vstr("fields", "$.Account")
    seq = vstr("fields", "$.Sequence").cast("long")

    change_type = (
        F.when(F.col("node_class") == "CreatedNode", "create")
        .when(F.col("node_class") == "ModifiedNode", "partial_fill")
        .when(F.col("tx_type") == "OfferCancel", "cancel")
        .when(
            (F.col("tx_type") == "OfferCreate")
            & (owner == F.col("account"))
            & (seq == F.col("tx_offer_seq")),
            "replace",
        )
        .when(pays_val == 0, "fill")
        .when(~has_prev, "unfunded_cancel")
        .when((pays_change != 0) | (gets_change != 0), "unfunded_partial_fill")
    )
    link_ok = F.col("tx_offer_seq").isNotNull() & (owner == F.col("account"))
    rate = _quality_rate(vstr("fields", "$.BookDirectory"), pays_cur, gets_cur)
    return n.select(
        "ledger_index", "executed_time", "tx_index", "node_index", "tx_hash",
        "tx_type",
        F.col("node_class").alias("node_type"),
        owner.alias("owner"),
        seq.alias("offer_sequence"),
        pays_cur.alias("pays_currency"), pays_iss.alias("pays_issuer"),
        pays_val.cast("double").alias("pays_value"),
        gets_cur.alias("gets_currency"), gets_iss.alias("gets_issuer"),
        gets_val.cast("double").alias("gets_value"),
        pays_change.cast("double").alias("pays_change"),
        gets_change.cast("double").alias("gets_change"),
        rate.alias("rate"),
        F.when(link_ok & (F.col("node_class") == "CreatedNode"), F.col("tx_offer_seq"))
        .alias("prev_offer_sequence"),
        F.when(link_ok & (F.col("node_class") == "DeletedNode"), F.col("tx_seq"))
        .alias("next_offer_sequence"),
        F.timestamp_seconds(
            vstr("fields", "$.Expiration").cast("long") + F.lit(946684800)
        ).alias("expiration"),
        change_type.alias("change_type"),
    )


def xrpl_payments(txs: DataFrame, balance_changes: DataFrame, nodes: DataFrame) -> DataFrame:
    """payment(tx) (payment.js:6-160): successful Payments with
    source != destination; amount/delivered_amount (DeliveredAmount
    fallback), SendMax, tags, and the RippleState high/low balance-sign
    issuer rule (:100-159).  Balance-change lists come from our own
    silver table (SURVEY 2.8) instead of the npm parser."""
    p = txs.filter(
        (F.col("result") == SUCCESS) & (F.col("tx_type") == "Payment")
    ).select(
        "ledger_index", "executed_time", "tx_index", "tx_hash", "fee_drops", "tx",
        F.col("account").alias("source"),
        vstr("tx", "$.Destination").alias("destination"),
    ).filter(F.col("source") != F.col("destination"))

    amt_val = vstr("tx", "$.Amount.value")
    amount_iou = amt_val.isNotNull()
    delivered = F.coalesce(
        vstr("tx", "$.metaData.DeliveredAmount.value"),
        (_dec(vstr("tx", "$.metaData.DeliveredAmount")) / XRP_ADJUST).cast("string"),
        amt_val,
        (_dec(vstr("tx", "$.Amount")) / XRP_ADJUST).cast("string"),
    )
    sendmax_iou = vstr("tx", "$.SendMax.value")
    p = p.select(
        "*",
        F.when(amount_iou, vstr("tx", "$.Amount.currency")).otherwise("XRP").alias("currency"),
        F.when(amount_iou, _dec(amt_val))
        .otherwise(_dec(vstr("tx", "$.Amount")) / XRP_ADJUST)
        .cast("double").alias("amount"),
        _dec(delivered).cast("double").alias("delivered_amount"),
        F.when(sendmax_iou.isNotNull(), _dec(sendmax_iou))
        .otherwise(_dec(vstr("tx", "$.SendMax")) / XRP_ADJUST)
        .cast("double").alias("max_amount"),
        F.when(sendmax_iou.isNotNull(), vstr("tx", "$.SendMax.currency"))
        .when(vstr("tx", "$.SendMax").isNotNull(), "XRP")
        .alias("source_currency"),
        # payment.js:44-50 `if (tx.DestinationTag)`: a literal tag 0 is
        # JS-falsy and never assigned -> NULL here too (MIRROR, r11)
        _js_falsy(vstr("tx", "$.DestinationTag").cast("long")).alias(
            "destination_tag"
        ),
        _js_falsy(vstr("tx", "$.SourceTag").cast("long")).alias("source_tag"),
        vstr("tx", "$.InvoiceID").alias("invoice_id"),
        (F.col("fee_drops") / XRP_ADJUST).cast("double").alias("fee"),
        vstr("tx", "$.Amount.issuer").alias("amount_issuer"),
    )

    # issuer rule (payment.js:100-159): trivial case column-side, the
    # RippleState scan as a min-node_index lookup join.
    rs = nodes.filter(
        (F.col("entry_type") == "RippleState")
        & vstr("node", "$.FinalFields").isNotNull()
    ).select(
        F.col("tx_hash").alias("rs_tx_hash"),
        "node_index",
        vstr("node", "$.FinalFields.HighLimit.currency").alias("rs_currency"),
        vstr("node", "$.FinalFields.HighLimit.issuer").alias("rs_high"),
        vstr("node", "$.FinalFields.LowLimit.issuer").alias("rs_low"),
        _dec(vstr("node", "$.FinalFields.Balance.value")).alias("rs_balance"),
        F.coalesce(
            _dec(vstr("node", "$.PreviousFields.Balance.value")), F.lit(0).cast(DEC)
        ).alias("rs_prev"),
    )
    cand = (
        p.select("tx_hash", "currency", "destination")
        .join(
            rs,
            (F.col("tx_hash") == F.col("rs_tx_hash"))
            & (F.col("rs_currency") == F.col("currency"))
            & (
                (F.col("rs_high") == F.col("destination"))
                | (F.col("rs_low") == F.col("destination"))
            ),
        )
        .groupBy("tx_hash")
        .agg(
            F.min_by(
                F.when(
                    (F.col("rs_balance") < 0) | (F.col("rs_prev") < 0),
                    F.col("rs_low"),
                ).otherwise(F.col("rs_high")),
                "node_index",
            ).alias("rs_issuer")
        )
    )
    # cand is payments-sized (one row per ambiguous tx): no forced
    # broadcast -- the join key is tx_hash on both sides, so this and the
    # balance-change list joins below share one shuffle partitioning
    p = p.join(cand, "tx_hash", "left").select(
        "*",
        F.when(F.col("currency") == "XRP", F.lit(None).cast("string"))
        .when(
            (F.col("amount_issuer") != F.col("source"))
            & (F.col("amount_issuer") != F.col("destination")),
            F.col("amount_issuer"),
        )
        .otherwise(F.col("rs_issuer"))
        .alias("issuer"),
    )

    # embedded balance-change lists from the silver table (fee rows
    # excluded: the reference nets the fee back out of the source list)
    bc = balance_changes.filter(F.col("change_type") != "fee").select(
        F.col("tx_hash").alias("bc_tx_hash"),
        F.col("account").alias("bc_account"),
        F.struct("currency", "change", "counterparty").alias("bc"),
        "node_index",
    )

    def bc_list(side: str, alias: str) -> DataFrame:
        want = p.select("tx_hash", F.col(side).alias("want_account"))
        return (
            want.join(
                bc,
                (F.col("tx_hash") == F.col("bc_tx_hash"))
                & (F.col("bc_account") == F.col("want_account")),
            )
            .groupBy("tx_hash")
            .agg(F.array_sort(F.collect_list(F.struct("node_index", "bc"))).alias("_l"))
            .select("tx_hash", F.col("_l.bc").alias(alias))
        )

    p = (
        p.join(bc_list("source", "source_balance_changes"), "tx_hash", "left")
        .join(bc_list("destination", "destination_balance_changes"), "tx_hash", "left")
    )
    return p.select(
        "ledger_index", "executed_time", "tx_index", "tx_hash",
        "source", "destination", "currency", "issuer", "amount",
        "delivered_amount", "max_amount", "source_currency",
        "destination_tag", "source_tag", "invoice_id", "fee",
        "source_balance_changes", "destination_balance_changes",
    )


def _utf8(payload: Column) -> Column:
    """Binary -> string the way Node's ``Buffer#toString('utf8')`` does:
    each invalid UTF-8 sequence becomes U+FFFD instead of raising, so
    one undecodable memo cannot fail the whole memos table."""
    return F.make_valid_utf8(payload.cast("string"))


def _decode(raw: Column) -> tuple[Column, Column]:
    """(decoded, encoding) for a memo field: hex -> utf8, else base64 ->
    utf8, else null (memos.js:27-40)."""
    hexed = raw.rlike(HEX_RE)
    b64 = raw.rlike(B64_RE)
    stripped = F.regexp_replace(raw, r"^0x", "")
    decoded = (
        F.when(hexed, _utf8(F.unhex(stripped)))
        .when(b64, _utf8(F.unbase64(raw)))
    )
    encoding = F.when(hexed, "hex").when(b64, "base64")
    return decoded, encoding


def xrpl_memos(txs: DataFrame) -> DataFrame:
    """memos(tx) (memos.js:5-116): one row per memo with hex/base64
    detection + UTF-8 decode of data/format/type.  All results kept
    (failed txs included), matching the reference's commented-out
    success filter."""
    m = txs.filter(vstr("tx", "$.Memos").isNotNull()).select(
        "ledger_index", "executed_time", "tx_index", "tx_hash", "account",
        vstr("tx", "$.Destination").alias("destination"),
        # memos.js:86-92 `if (tx.DestinationTag)`: tag 0 is JS-falsy
        # and never assigned -> NULL here too (MIRROR, r11)
        _js_falsy(vstr("tx", "$.DestinationTag").cast("long")).alias(
            "destination_tag"
        ),
        _js_falsy(vstr("tx", "$.SourceTag").cast("long")).alias("source_tag"),
        F.posexplode(
            F.try_variant_get("tx", "$.Memos", "array<variant>")
        ).alias("memo_index", "memo"),
    ).filter(vstr("memo", "$.Memo").isNotNull())
    data = vstr("memo", "$.Memo.MemoData")
    fmt = vstr("memo", "$.Memo.MemoFormat")
    typ = vstr("memo", "$.Memo.MemoType")
    d_dec, d_enc = _decode(data)
    f_dec, f_enc = _decode(fmt)
    t_dec, t_enc = _decode(typ)
    return m.select(
        "ledger_index", "executed_time", "tx_index", "memo_index", "tx_hash",
        "account", "destination", "destination_tag", "source_tag",
        data.alias("memo_data"), d_dec.alias("decoded_data"), d_enc.alias("data_encoding"),
        fmt.alias("memo_format"), f_dec.alias("decoded_format"), f_enc.alias("format_encoding"),
        typ.alias("memo_type"), t_dec.alias("decoded_type"), t_enc.alias("type_encoding"),
    )


def xrpl_from_client(memos: DataFrame) -> DataFrame:
    """fromClient(tx) (fromClient.js:5-77): the first memo whose decoded
    type is 'client' yields the client string (<=100 chars)."""
    c = memos.filter(F.lower(F.col("decoded_type")) == "client")
    client = F.coalesce(F.col("decoded_data"), F.col("decoded_format"))
    return (
        c.filter(client.isNotNull())
        .groupBy("tx_hash")
        .agg(
            F.min_by(F.substring(client, 1, 100), "memo_index").alias("client")
        )
    )


def xrpl_affected_accounts(
    balance_changes: DataFrame,
    exchanges: DataFrame,
    accounts_created: DataFrame,
    offers: DataFrame | None = None,
) -> DataFrame:
    """affectedAccounts(tx) (affectedAccounts.js:4-26): every r-prefixed
    account touched by the tx meta -- derived as the distinct union of
    account fields across our own silver events (SURVEY 2.8), which is
    the same closure the npm helper computes from the meta.

    ``offers`` widens the closure with Offer-node parties: the owner and
    BOTH side issuers.  The reference's getAffectedAccounts walks every
    meta node's address-valued fields, so an account that appears only
    as the issuer inside a created/cancelled offer's TakerPays/TakerGets
    amount still indexes the tx (pinned by the mocha golden
    test.account.transactions.js:120 -- rvYAfWj5... has 8/13 window txs
    purely through that issuer role)."""
    parts = [
        balance_changes.select("tx_hash", F.col("account").alias("a")),
        balance_changes.select("tx_hash", F.col("counterparty").alias("a")),
        exchanges.select("tx_hash", F.col("buyer").alias("a")),
        exchanges.select("tx_hash", F.col("seller").alias("a")),
        accounts_created.select("tx_hash", F.col("new_account").alias("a")),
        accounts_created.select("tx_hash", F.col("parent").alias("a")),
    ]
    if offers is not None:
        parts += [
            offers.select("tx_hash", F.col("owner").alias("a")),
            offers.select("tx_hash", F.col("pays_issuer").alias("a")),
            offers.select("tx_hash", F.col("gets_issuer").alias("a")),
        ]
    u = parts[0]
    for x in parts[1:]:
        u = u.unionByName(x)
    return (
        u.filter(F.col("a").isNotNull() & F.col("a").startswith("r"))
        .distinct()
        .withColumnRenamed("a", "account")
    )


def xrpl_escrows(txs: DataFrame) -> DataFrame:
    """escrow(tx) (lib/ledgerParser/escrow.js:23-73): one row per
    successful Escrow{Create,Cancel,Finish} transaction.  Field
    fallbacks come from the tx's DELETED Escrow ledger node -- the
    FIRST such node in AffectedNodes order (getEscrowNode, :8-21) --
    which is how Finish/Cancel recover the Create-time Amount/
    Destination/tags and the creating tx hash (PreviousTxnID).

    CancelAfter/FinishAfter are Ripple-epoch seconds; the reference
    shifts by EPOCH_OFFSET and ISO-formats (:60-68) -- here they
    become real TIMESTAMP columns.  ``owner`` mirrors the quirk at
    :51 verbatim (tx.Account || tx.Owner, so owner == account whenever
    Account is present).  Zero Python UDFs: the node lookup is a
    higher-order FILTER over the AffectedNodes variant array.

    JS-falsy fidelity (decision: MIRROR the reference, round 11): the
    numeric `||` chains at :53-56 fall through on 0, so a tx-level
    DestinationTag/SourceTag of 0 defers to the deleted node's value
    and a ticket-based Sequence 0 defers to OfferSequence -- expressed
    as ``coalesce(nullif(x, 0), fallback)`` via ``_js_or``; likewise
    the ``if (tx.CancelAfter)`` guards at :60-68 drop a 0 value (NULL
    here, not the Ripple-epoch timestamp).  String chains (Amount,
    Destination, PreviousTxnID, Account||Owner) stay plain coalesce:
    "0" is truthy in JS.  Pinned on synthetic zero-value txs in
    tests/test_js_falsy_pins.py.
    """
    from ..sources.xrpl import RIPPLE_EPOCH

    e = txs.filter(
        (F.col("result") == SUCCESS)
        & F.col("tx_type").isin("EscrowCreate", "EscrowCancel", "EscrowFinish")
    )
    nodes_arr = F.try_variant_get(
        "tx", "$.metaData.AffectedNodes", "array<variant>"
    )
    deleted_escrows = F.filter(
        nodes_arr,
        lambda w: F.try_variant_get(
            w, "$.DeletedNode.LedgerEntryType", "string"
        )
        == "Escrow",
    )
    # try_element_at: EscrowCreate has no deleted node -> empty array
    e = e.withColumn("_esc_node", F.try_element_at(deleted_escrows, F.lit(1)))

    def node(path: str) -> Column:
        return F.try_variant_get(
            "_esc_node", f"$.DeletedNode.FinalFields.{path}", "string"
        )

    def tx(path: str) -> Column:
        return vstr("tx", f"$.{path}")

    after = lambda c: F.to_timestamp(  # noqa: E731
        F.from_unixtime(c.cast("long") + F.lit(RIPPLE_EPOCH))
    )
    return e.select(
        F.to_date("executed_time").alias("date"),
        F.col("executed_time"),
        "ledger_index",
        "tx_index",
        "tx_hash",
        "tx_type",
        (F.col("fee_drops") / XRP_ADJUST).alias("fee"),
        tx("Flags").cast("long").alias("flags"),
        (
            F.coalesce(tx("Amount"), node("Amount")).cast(DEC) / XRP_ADJUST
        ).alias("amount"),
        F.col("account"),
        F.coalesce(F.col("account"), tx("Owner")).alias("owner"),
        F.coalesce(tx("Destination"), node("Destination")).alias(
            "destination"
        ),
        _js_or(
            tx("DestinationTag").cast("long"),
            node("DestinationTag").cast("long"),
        ).alias("destination_tag"),
        _js_or(
            tx("SourceTag").cast("long"), node("SourceTag").cast("long")
        ).alias("source_tag"),
        _js_or(F.col("sequence"), tx("OfferSequence").cast("long")).alias(
            "create_tx_seq"
        ),
        F.coalesce(node("PreviousTxnID"), F.col("tx_hash")).alias(
            "create_tx"
        ),
        tx("Condition").alias("condition"),
        tx("Fulfillment").alias("fulfillment"),
        after(_js_falsy(tx("CancelAfter").cast("long"))).alias("cancel_after"),
        after(_js_falsy(tx("FinishAfter").cast("long"))).alias("finish_after"),
    )


def xrpl_paychan(txs: DataFrame) -> DataFrame:
    """paychan(tx) (lib/ledgerParser/paychan.js:26-81): one row per
    successful PaymentChannel{Create,Fund,Claim} transaction.  The
    channel's ledger node is the FIRST AffectedNodes wrapper whose
    payload (CreatedNode || ModifiedNode || DeletedNode) has
    LedgerEntryType == 'PayChannel' (getPaychannelNode, :8-24), and its
    fields resolve NewFields || FinalFields -- so Create reads the new
    channel, Fund/Claim the funded/claimed state.  amount/balance stay
    NULL when the node omits them, exactly like the reference's
    undefined.  CancelAfter/Expiration are Ripple-epoch seconds ->
    TIMESTAMP columns.  Zero Python UDFs.

    JS-falsy fidelity (MIRROR, round 11): `if (tx.CancelAfter)` /
    `if (tx.Expiration)` (:66-74) drop a literal 0 -> NULL here via
    ``_js_falsy``.  The tag columns are DIRECT assignments in the
    reference (:59-60, node.fields.DestinationTag with no truthiness
    guard), so a channel tag of 0 IS kept -- deliberately different
    from the escrow parser's `||` chains.  node.fields resolution
    (NewFields || FinalFields, :16) is per-field coalesce here, which
    is equivalent because no node class carries both."""
    from ..sources.xrpl import RIPPLE_EPOCH

    p = txs.filter(
        (F.col("result") == SUCCESS)
        & F.col("tx_type").isin(
            "PaymentChannelCreate", "PaymentChannelFund", "PaymentChannelClaim"
        )
    )
    nodes_arr = F.try_variant_get(
        "tx", "$.metaData.AffectedNodes", "array<variant>"
    )

    def entry_type(w: Column, klass: str) -> Column:
        return F.try_variant_get(w, f"$.{klass}.LedgerEntryType", "string")

    pc_wrappers = F.filter(
        nodes_arr,
        lambda w: (entry_type(w, "CreatedNode") == "PayChannel")
        | (entry_type(w, "ModifiedNode") == "PayChannel")
        | (entry_type(w, "DeletedNode") == "PayChannel"),
    )
    p = p.withColumn("_pc_wrap", F.try_element_at(pc_wrappers, F.lit(1)))
    payload = F.coalesce(
        F.try_variant_get("_pc_wrap", "$.CreatedNode", "variant"),
        F.try_variant_get("_pc_wrap", "$.ModifiedNode", "variant"),
        F.try_variant_get("_pc_wrap", "$.DeletedNode", "variant"),
    )
    p = p.withColumn("_pc_node", payload)

    def fields(path: str) -> Column:
        # node.fields = node.NewFields || node.FinalFields (:16)
        return F.coalesce(
            F.try_variant_get("_pc_node", f"$.NewFields.{path}", "string"),
            F.try_variant_get("_pc_node", f"$.FinalFields.{path}", "string"),
        )

    def tx(path: str) -> Column:
        return vstr("tx", f"$.{path}")

    after = lambda c: F.to_timestamp(  # noqa: E731
        F.from_unixtime(c.cast("long") + F.lit(RIPPLE_EPOCH))
    )
    return p.select(
        F.to_date("executed_time").alias("date"),
        F.col("executed_time"),
        "ledger_index",
        "tx_index",
        "tx_hash",
        "tx_type",
        (F.col("fee_drops") / XRP_ADJUST).alias("fee"),
        tx("Flags").cast("long").alias("flags"),
        tx("Channel").alias("channel"),
        tx("Signature").alias("signature"),
        tx("PublicKey").alias("pubkey"),
        tx("SettleDelay").cast("long").alias("settle"),
        F.col("account"),
        fields("Account").alias("source"),
        fields("Destination").alias("destination"),
        fields("DestinationTag").cast("long").alias("destination_tag"),
        fields("SourceTag").cast("long").alias("source_tag"),
        (fields("Amount").cast(DEC) / XRP_ADJUST).alias("amount"),
        (fields("Balance").cast(DEC) / XRP_ADJUST).alias("balance"),
        after(_js_falsy(tx("CancelAfter").cast("long"))).alias("cancel_after"),
        after(_js_falsy(tx("Expiration").cast("long"))).alias("expiration"),
    )
