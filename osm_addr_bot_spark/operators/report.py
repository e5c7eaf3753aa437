"""U5 — per-changeset discussion-comment composer, byte-exact.

Reproduces the reference's ``compose_message`` (main.py:108-162):

  * greeting for new users (changesets_count <= 15, config.py:42)
  * category header, critical variant if any flagged check is critical
  * per check (in registry definition order — the reference's dict
    preserves ``cat.checks`` insertion order): desc, plus ' ' + extra
    for non-pro users (pro = count >= 800, config.py:43)
  * title groups: UNKNOWN_STREET_NAME with >= 3 entries groups by
    street name, first-occurrence order, title '"<street>":'
    (reference check.py:25-37); otherwise one untitled group
  * links sorted node < way < relation, stable (main.py:19-23, 140)
  * docs footer (category docs + per-check docs, skipped for pro users)
  * sign-off variants (main.py:156-160)

Entry order inside a group is the document's span sequence
(doc_id, span_offset) — the deterministic analog of the reference's
scan order.

The message is one native Column expression, so no Python runs per row.
Each (category, changeset) group collects its entries once and sorts
them by (registry order, doc_id, span_offset); the registry's strings
enter the plan as literal maps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.config import NEW_USER_THRESHOLD, PRO_USER_THRESHOLD
from osm_addr_bot_spark.checks.registry import all_categories

LINK_RANK = {"node": 0, "way": 1, "relation": 2}
GREETING = "🗺️ Witaj na OpenStreetMap!\n\n"
SIGN_OFF = "Pozdrawiam! 🦀"
HELP = "W razie problemów lub pytań, proszę pisać. Chętnie pomogę.\n"


def _literal_map(entries: dict) -> Column:
    return F.create_map(*[c for k, v in entries.items() for c in (F.lit(k), v)])


def _texts(**fields) -> list[Column]:
    """Named string literals; None becomes a typed null."""
    return [F.lit(v).cast("string").alias(k) for k, v in fields.items()]


def _metadata(fidelity: bool) -> tuple[Column, Column]:
    """Literal maps category -> {header, header_critical, docs} and
    check_id -> {order, desc, extra, docs}; order is registry order."""
    cats = all_categories(fidelity)
    category = _literal_map({
        c.identifier: F.struct(*_texts(header=c.header, header_critical=c.header_critical, docs=c.docs))
        for c in cats
    })
    check = _literal_map({
        c.identifier: F.struct(F.lit(i).alias("order"), *_texts(desc=c.desc, extra=c.extra, docs=c.docs))
        for cat in cats
        for i, c in enumerate(cat.checks)
    })
    return category, check


def _links(entries: Column) -> Column:
    """One URL line per entry: node < way < relation, span order within a type."""
    ordered = F.array_sort(
        F.transform(entries, lambda e: F.struct(e["link_rank"], e["doc_id"], e["span_offset"], e["link"]))
    )
    return F.array_join(F.transform(ordered, lambda e: e["link"]), "")


def _check_block(entries: Column, check_id: Column, check: Column, pro_user: Column) -> Column:
    """desc[ extra] line, the links (under street titles where the
    reference groups them), then a blank line."""
    own = F.filter(entries, lambda e: e["check_id"] == check_id)
    meta = F.element_at(check, check_id)
    desc, extra = meta["desc"], meta["extra"]
    line = F.when(pro_user | extra.isNull(), desc).otherwise(F.concat(desc, F.lit(" "), extra))
    titled = F.transform(
        F.array_distinct(F.transform(own, lambda e: e["street"])),
        lambda street: F.concat(
            F.lit('\n"'), street, F.lit('":\n'), _links(F.filter(own, lambda e: e["street"] == street))
        ),
    )
    links = F.when((check_id == "UNKNOWN_STREET_NAME") & (F.size(own) >= 3), F.array_join(titled, "")).otherwise(
        _links(own)
    )
    return F.concat(line, F.lit("\n"), links, F.lit("\n"))


def _footer(category_docs: Column, check_ids: Column, check: Column, pro_user: Column) -> Column:
    """Category docs, then each block's check docs; none for pro users."""
    docs = F.filter(
        F.concat(F.array(category_docs), F.transform(check_ids, lambda c: F.element_at(check, c)["docs"])),
        lambda d: d.isNotNull(),
    )
    footer = F.concat(F.array_join(docs, "\n\n"), F.lit("\n\n"))
    return F.when(~pro_user & (F.size(docs) > 0), footer).otherwise(F.lit(""))


def compose_reports(issues: DataFrame, users: DataFrame, fidelity: bool = False) -> DataFrame:
    """issues (post all gates/dedup) -> one report row per
    (category, changeset). Needs the author's changesets_count from the
    broadcast users dim (J6/J7).

    The issues carry the author's ``cs_uid`` (from the open-changeset
    split's changesets join) and ``street`` (addr:street, extracted
    before the pipeline dropped the tags map), so neither the
    data-sized changesets dim nor the tags map is needed here."""
    category, check = _metadata(fidelity)
    kind = F.col("element_type")
    link = F.concat(F.lit("https://www.openstreetmap.org/"), kind, F.lit("/"), F.col("element_id").cast("string"))
    entry = F.struct(
        F.element_at(check, F.col("check_id"))["order"].alias("order"),
        "doc_id",
        "span_offset",
        F.element_at(_literal_map({k: F.lit(r) for k, r in LINK_RANK.items()}), kind).alias("link_rank"),
        "check_id",
        "street",
        F.concat(link, F.lit("\n")).alias("link"),
    )
    grouped = (
        issues.join(F.broadcast(users.selectExpr("user_uid as cs_uid", "changesets_count")), "cs_uid")
        .groupBy("category", "changeset_id")
        .agg(
            F.array_sort(F.collect_list(entry)).alias("entries"),
            F.first("changesets_count").alias("changesets_count"),
            F.count("*").alias("n_issues"),
            F.max("critical").alias("is_critical"),
        )
    )

    entries = F.col("entries")
    check_ids = F.array_distinct(F.transform(entries, lambda e: e["check_id"]))
    count = F.col("changesets_count")
    pro_user = count >= PRO_USER_THRESHOLD
    cat = F.element_at(category, F.col("category"))
    message = F.concat(
        F.when(count <= NEW_USER_THRESHOLD, F.lit(GREETING)).otherwise(F.lit("")),
        F.when(F.col("is_critical"), cat["header_critical"]).otherwise(cat["header"]),
        F.lit("\n\n"),
        F.array_join(F.transform(check_ids, lambda c: _check_block(entries, c, check, pro_user)), ""),
        _footer(cat["docs"], check_ids, check, pro_user),
        F.when(pro_user, F.lit(SIGN_OFF)).otherwise(F.lit(HELP + SIGN_OFF)),
    )
    return grouped.select("category", "changeset_id", message.alias("message"), "n_issues", "is_critical")
