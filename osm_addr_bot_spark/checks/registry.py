"""The rule set: every check of the reference as a native-expression spec.

Each entry cites its source in /root/reference/checks.py. The Polish
user-facing strings are data the report composer must reproduce
byte-for-byte (reference main.py:108-162), so they are carried verbatim.

Quirk Q1 (SURVEY.md §5): the reference passes ``selectors='construction'``
/ ``'proposed'`` as *strings*, which its selector engine iterates
char-by-char (reference checks.py:311,330 + check_base.py:13) — those
two checks can never fire there. Default mode implements the intended
semantics; ``fidelity=True`` reproduces the dead behavior.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

from osm_addr_bot_spark.checks.model import CategorySpec, CheckSpec
from osm_addr_bot_spark.checks.selectors import normalize_expr

# anchored translations of the reference regexes (reference checks.py:10-15);
# Python re.match anchors left — '^' added; Java regex covers all constructs
# used, including the (?!/maps) negative lookahead.
POSTCODE_RE = r"^\d{2}-\d{3}([;,]\d{2}-\d{3})*$"
WEBSITE_DUP_PROTO_RE = r"^\w{2,}://\w{2,}://"
WEBSITE_SHORTENER_RE = (
    r"(?i)^\w{2,}://(www\.)?(tinyurl\.com|tiny\.(cc|pl)|(bit|cutt)\.ly|[gt]\.co|goo\.gl(?!/maps))/"
)
STREET_PREFIX_RE = r"^ul(ica)?\.? "

PARCEL_LOCKER_BRANDS = (
    "Q110738715",  # Allegro One Box
    "Q110970254",  # Paczkomat InPost
    "Q114273730",  # DPD Pickup Station
    "Q110457879",  # Orlen Paczka
)

_WEBSITE_KEYS = ("url", "website", "contact:website")


def _t(tags: Column, key: str) -> Column:
    return F.element_at(tags, F.lit(key))


def _website_match(tags: Column, pattern: str) -> Column:
    """('url' in t and RE.match(t['url'])) or ... over the three keys
    (reference checks.py:264-267, 281-284)."""
    acc = F.lit(False)
    for k in _WEBSITE_KEYS:
        acc = acc | (F.map_contains_key(tags, F.lit(k)) & _t(tags, k).rlike(pattern))
    return acc


def _in_removable(tags: Column, key: str) -> Column:
    """t[key] in (t.get('building'), t.get('landuse'), t.get('highway'),
    t.get('railway')) — plain equality, never null==null (quirk Q2;
    reference checks.py:312-318)."""
    v = _t(tags, key)
    acc = F.lit(False)
    for other in ("building", "landuse", "highway", "railway"):
        acc = acc | (v == _t(tags, other))
    return acc


@lru_cache(maxsize=None)
def all_categories(fidelity: bool = False) -> tuple[CategorySpec, ...]:
    address = CategorySpec(
        identifier="ADDRESS",  # reference checks.py:18-184
        min_changesets=0,
        header_critical=(
            "Zauważyłem, że Twoja zmiana zawiera niepoprawne adresy. "
            "Przygotowałem listę obiektów do poprawy oraz dodatkowe informacje:"
        ),
        header=(
            "Zauważyłem, że Twoja zmiana zawiera adresy wymagające dodatkowej uwagi. "
            "Przygotowałem listę obiektów oraz dodatkowe informacje:"
        ),
        docs="Dokumentacja adresów (po polsku):\nhttps://wiki.openstreetmap.org/wiki/Pl:Key:addr:*",
        selectors=("addr:*",),
        checks=(
            CheckSpec(  # reference checks.py:34-48
                identifier="BAD_CITY_WITH_PLACE",
                priority=50,
                critical=True,
                desc="Podana kombinacja addr:city + addr:place jest nieprawidłowa.",
                extra=(
                    "Jeśli adres ma nazwę ulicy, usuń addr:place i zastosuj kombinację "
                    "addr:city + addr:street. Jeśli nie, pozostaw tylko addr:place."
                ),
                docs=None,
                selectors=("addr:city", "addr:place"),
                pre_expr=lambda t: _t(t, "addr:city") != _t(t, "addr:place"),
                post_stage="place_not_in_area",
            ),
            CheckSpec(  # reference checks.py:50-62
                identifier="BAD_POSTCODE_FORMAT",
                priority=100,
                critical=True,
                desc="Nieprawidłowa wartość addr:postcode.",
                extra="Kod pocztowy powinien być formatu XX-XXX, gdzie X oznacza cyfrę.",
                docs=None,
                selectors=("addr:postcode",),
                pre_expr=lambda t: ~_t(t, "addr:postcode").rlike(POSTCODE_RE),
            ),
            CheckSpec(  # reference checks.py:64-77
                identifier="CITY_WITH_PLACE_MISTYPE",
                priority=85,
                critical=True,
                desc="Wartość addr:city lub addr:place zawiera błąd w pisowni.",
                extra=(
                    "Upewnij się, czy wielkość liter jest poprawna, oraz czy nigdzie "
                    "nie ma dodatkowych znaków."
                ),
                docs=None,
                selectors=("addr:city", "addr:place"),
                pre_expr=lambda t: (_t(t, "addr:city") != _t(t, "addr:place"))
                & (normalize_expr(_t(t, "addr:city")) == normalize_expr(_t(t, "addr:place"))),
            ),
            CheckSpec(  # reference checks.py:79-92
                identifier="DUPLICATED",
                priority=0,
                critical=True,
                desc="Duplikat adresu w okolicy.",
                extra=(
                    "Adres można oznaczyć na dwa sposoby: na obszarze (dokładniejsze) "
                    "albo na punkcie. Aktualizując adres, należy się upewnić, "
                    "czy w okolicy nie pozostały żadne duplikaty."
                ),
                docs=None,
                selectors=("addr:housenumber",),
                post_stage="duplicates",
            ),
            CheckSpec(  # reference checks.py:109-122
                identifier="NUMBER_WITHOUT_STREET",
                priority=30,
                critical=True,
                desc="Adres jest niekompletny, brakuje informacji o nazwie ulicy.",
                extra=(
                    "Jeśli adres ma nazwę ulicy, dodaj ją w addr:street. Jeśli nie, "
                    "zamień addr:city na addr:place - tak oznaczamy adresy bez ulic."
                ),
                docs=None,
                selectors=("addr:housenumber", "addr:city"),
                pre_expr=lambda t: ~F.map_contains_key(t, F.lit("addr:place"))
                & ~F.map_contains_key(t, F.lit("addr:street")),
            ),
            CheckSpec(  # reference checks.py:124-136
                identifier="PLACE_MISTYPE",
                priority=80,
                critical=True,
                desc="Wartość addr:place zawiera błąd w pisowni.",
                extra=(
                    "Upewnij się, czy wielkość liter jest poprawna, oraz czy nigdzie "
                    "nie ma dodatkowych znaków."
                ),
                docs=None,
                selectors=("addr:place",),
                post_stage="place_mistype",
            ),
            CheckSpec(  # reference checks.py:138-151
                identifier="PLACE_WITH_STREET",
                priority=100,
                critical=True,
                desc=(
                    "Klucz addr:place oznacza brak nazwy ulicy. Kombinacja z addr:street "
                    "(który definiuje nazwę ulicy) jest błędna."
                ),
                extra=(
                    "Jeśli adres ma nazwę ulicy, zamień addr:place na addr:city. "
                    "Jeśli nie, usuń addr:street."
                ),
                docs=None,
                selectors=("addr:place", "addr:street"),
            ),
            CheckSpec(  # reference checks.py:153-166
                identifier="UNKNOWN_STREET_NAME",
                priority=10,
                critical=False,
                desc="Nazwa ulicy nie istnieje w okolicy.",
                extra=(
                    "Jeśli adres ma nazwę ulicy, upewnij się, że jest ona poprawna. "
                    "Jeśli nie, usuń addr:street, a nazwę miejscowości przekaż w addr:place."
                ),
                docs=None,
                selectors=("addr:street",),
                post_stage="street_names",
            ),
            CheckSpec(  # reference checks.py:168-182
                identifier="STREET_NAME_WITH_PREFIX",
                priority=15,
                critical=True,
                desc="Nazwa ulicy nie powinna zawierać przedrostka.",
                extra=(
                    "Nazwa ulicy nie powinna zaczynać się od 'ul.', 'ulica' itp. "
                    "Należy usunąć przedrostek i pozostawić samą nazwę ulicy."
                ),
                docs=(
                    "Zasady nazewnictwa ulic w polsce:\n"
                    "https://wiki.osm.org/Pl:Znakowanie_dróg_w_Polsce#Nazewnictwo_ulic"
                ),
                selectors=("addr:street",),
                pre_expr=lambda t: _t(t, "addr:street").rlike(STREET_PREFIX_RE),
            ),
        ),
    )

    redundancy = CategorySpec(
        identifier="REDUNDANCY",  # reference checks.py:186-219
        min_changesets=0,
        header_critical=(
            "Zauważyłem, że Twoja zmiana zawiera nadmiarowe informacje. "
            "Przygotowałem listę obiektów do poprawy oraz dodatkowe informacje:"
        ),
        header=(
            "Zauważyłem, że Twoja zmiana zawiera nadmiarowe informacje. "
            "Przygotowałem listę obiektów oraz dodatkowe informacje:"
        ),
        docs=None,
        checks=(
            CheckSpec(  # reference checks.py:199-217
                identifier="PARCEL_LOCKER_WITH_NAME",
                critical=True,
                desc="Paczkomat nie powinien mieć nazwy.",
                extra=(
                    "Nazwa nadawana jest automatycznie, na podstawie wartości brand. "
                    "Opcjonalnie, numer identyfikacyjny może być przekazany w polu ref."
                ),
                docs=(
                    "Dokumentacja paczkomatów (po polsku):\n"
                    "https://wiki.openstreetmap.org/wiki/Pl:Tag:amenity%3Dparcel_locker"
                ),
                selectors=("brand:wikidata", "name"),
                pre_expr=lambda t: _t(t, "brand:wikidata").isin(*PARCEL_LOCKER_BRANDS),
            ),
        ),
    )

    syntax = CategorySpec(
        identifier="SYNTAX",  # reference checks.py:221-287
        min_changesets=0,
        header_critical=(
            "Zauważyłem, że Twoja zmiana zawiera niepoprawną składnię. "
            "Przygotowałem listę obiektów do poprawy oraz dodatkowe informacje:"
        ),
        header=(
            "Zauważyłem, że Twoja zmiana zawiera niepoprawną składnię. "
            "Przygotowałem listę obiektów oraz dodatkowe informacje:"
        ),
        docs=None,
        checks=(
            CheckSpec(  # reference checks.py:252-268
                identifier="WEBSITE_WITH_REPEATED_PROTOCOL",
                critical=True,
                desc="Adres strony internetowej zawiera powtórzone protokoły.",
                extra=(
                    "Poprawny adres nie może zawierać więcej niż jednego protokołu, "
                    "jak np. https://https://."
                ),
                docs=(
                    "Dokumentacja adresów WWW (po polsku):\n"
                    "https://wiki.openstreetmap.org/wiki/Pl%3AKey%3Awebsite"
                ),
                partial_selectors=True,
                selectors=_WEBSITE_KEYS,
                pre_expr=lambda t: _website_match(t, WEBSITE_DUP_PROTO_RE),
            ),
            CheckSpec(  # reference checks.py:270-285
                identifier="WEBSITE_URL_SHORTENER",
                critical=True,
                desc="Adres strony internetowej został skrócony przez serwis typu URL shortener.",
                extra=(
                    "Przekazując adres strony, upewnij się, że jest on w pełnej, "
                    "bezpośredniej formie."
                ),
                docs=None,
                partial_selectors=True,
                selectors=_WEBSITE_KEYS,
                pre_expr=lambda t: _website_match(t, WEBSITE_SHORTENER_RE),
            ),
        ),
    )

    # Quirk Q1: fidelity mode reproduces the string-selector bug — the
    # char-iterated selectors ('c','o','n',...) can never all be present
    # as tag keys in practice; we encode them exactly as the reference's
    # engine would see them.
    constr_sel = tuple("construction") if fidelity else ("construction",)
    prop_sel = tuple("proposed") if fidelity else ("proposed",)

    tags_combination = CategorySpec(
        identifier="TAGS_COMBINATION",  # reference checks.py:289-340
        min_changesets=10,
        header_critical=(
            "Zauważyłem, że Twoja zmiana zawiera niepoprawne połączenie tagów. "
            "Przygotowałem listę obiektów do poprawy oraz dodatkowe informacje:"
        ),
        header=(
            "Zauważyłem, że Twoja zmiana zawiera niepoprawne połączenie tagów. "
            "Przygotowałem listę obiektów oraz dodatkowe informacje:"
        ),
        docs=None,
        checks=(
            CheckSpec(  # reference checks.py:302-319
                identifier="CONSTRUCTION_NOT_REMOVED",
                critical=False,
                desc="Klucz construction=* nie został usunięty.",
                extra=(
                    "Jeżeli budowa została zakończona należy usunąć dotychczasowe "
                    "tagowanie wskazujące na budowę."
                ),
                docs=None,
                selectors=constr_sel,
                pre_expr=lambda t: _in_removable(t, "construction"),
            ),
            CheckSpec(  # reference checks.py:321-338
                identifier="PROPOSED_NOT_REMOVED",
                critical=False,
                desc="Klucz proposed=* nie został usunięty.",
                extra=(
                    "Jeżeli proponowana budowa została rozpoczęta lub plany zmieniły "
                    "się w inny sposób, należy usunąć dotychczasowe tagowanie "
                    "wskazujące na propozycję budowy."
                ),
                docs=None,
                selectors=prop_sel,
                pre_expr=lambda t: _in_removable(t, "proposed"),
            ),
        ),
    )

    return (address, redundancy, syntax, tags_combination)

