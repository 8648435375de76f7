"""Seeded generator of a sanctions feed (EU-FSF-style XML) and a matching
travel-ban PDF, at any entity count.

The shapes follow the in-repo fixture (``data/sanctions_fixture.py``,
``data/fixtures/feed.xml``): accented aliases whose PDF entry is the
accent-folded form, Cyrillic-script aliases (not Latin, so skipped by the
name selection), Cyrillic-confusable aliases (``І``/``і`` for ``I``/``i``,
Latin after folding), ``title`` / ``function`` / ``gender`` attributes,
0-3 addresses, and duplicate-name runs that feed the neighbor-fill passes.
The PDF text is one ``Entity N`` chunk per listed entity with
``Name/Alias``, ``Number`` and ``Programme`` lines, turned into real PDF
bytes by ``tools/make_pdf_fixture.build_pdf``.

``generate`` also returns the ground truth the correctness gate needs:
every entity's aliases in feed order and every PDF entry in document
order. The same seed and count give byte-identical files.

Usage: python3 perfbench/gen_sanctions.py SEED ENTITIES OUT_DIR [--no-pdf]
"""

from __future__ import annotations

import os
import random
import sys
from dataclasses import dataclass, field
from xml.sax.saxutils import quoteattr, escape

_MALE = ["Ivan", "Mohammed", "Sergei", "Jose", "Ali", "Omar", "Pyotr",
         "Viktor", "Hassan", "Abdul", "Dmitri", "Carlos", "Yusuf", "Igor",
         "Rashid", "Pavel", "Andrei", "Khalid", "Nikolai", "Tariq", "Luis",
         "Boris", "Ahmad", "Mikhail", "Samir", "Oleg", "Farid", "Jorge"]
_FEMALE = ["Maria", "Fatima", "Svetlana", "Anna", "Olga", "Amina", "Elena",
           "Leila", "Natalia", "Irina", "Sofia", "Yasmin", "Tatiana", "Laura",
           "Nadia", "Ines", "Marta", "Zainab", "Vera", "Lucia"]
_LAST = ["Petrenko", "Aliyev", "Volkov", "Garcia", "Rahman", "Ivanova",
         "Ishakzai", "Yolkin", "Noor", "Sow", "Moreno", "Kuznetsov",
         "Haddad", "Morozov", "Lopez", "Nasser", "Sokolov", "Karimov",
         "Popescu", "Mansour", "Orlov", "Diaz", "Qasim", "Belov", "Farouk",
         "Lebedev", "Torres", "Saleh", "Kozlov", "Herrera", "Hamid",
         "Novak", "Zaidi", "Romero", "Yilmaz", "Pavlov", "Salazar", "Khan"]
# accented spellings use Latin-1 letters only, so the PDF (Latin-1 text)
# can carry them verbatim
_ACCENTED = {"Jose": "José", "Maria": "María", "Garcia": "García",
             "Lopez": "López", "Ines": "Inés", "Lucia": "Lucía",
             "Diaz": "Díaz", "Romero": "Roméro", "Herrera": "Hérrera",
             "Torres": "Tòrres", "Novak": "Novák", "Salazar": "Salazär"}
# the accented letters used above, folded to ASCII
_FOLD = str.maketrans("éíóàòáä", "eioaoaa")
# Cyrillic-script renderings (never Latin)
_CYR = ["Иван", "Мохаммед", "Сергей", "Алиев", "Петренко", "Волков",
        "Ольга", "Светлана", "Борис", "Орлов", "Лебедев", "Козлов"]
_TITLES = ["Minister", "General", "Colonel", "Deputy Minister", "Governor",
           "Head of unit", "Ambassador", "Commander"]
_FUNCS = ["Minister of Finance", "(a) Commander, (b) Recruiter",
          "Deputy head of the security service", "(a) Head of unit, (b) Treasurer",
          "Chief of staff", "Member of the board"]
_COUNTRIES = ["VENEZUELA", "SYRIAN ARAB REPUBLIC", "RUSSIAN FEDERATION",
              "AFGHANISTAN", "BELARUS", "IRAN", "MALI", "SOMALIA", "PAKISTAN",
              "UNKNOWN", "LIBYA", "MYANMAR"]
_CITIES = ["Caracas City", "Damascus", "Moscow", "Kandahar City Kandahar",
           "Minsk", "Tehran", "Bamako", "Mogadishu", "Quetta", "Tripoli",
           "Yangon", "UNKNOWN", "Aleppo", "Saint Petersburg"]
_REGIONS = ["Distrito Capital", "Kandahar Province", "Baluchistan Province",
            "Moscow Oblast", None, None]
_STREETS = ["Av. Urdaneta, 12", "Praspyekt 7", "Pashtunabad", "Lenina 4",
            "Rue 12", None, None]
_PROGRAMMES = ["VEN", "SYR", "RUS", "AFG", "BLR", "IRN", "MLI", "SOM", "LBY",
               "MMR", "GEN"]


@dataclass
class Alias:
    whole_name: str
    latin: bool            # passes the pipeline's Latin-name test
    gender: str | None = None
    function: str | None = None
    title: str | None = None


@dataclass
class Entity:
    seq: int
    aliases: list[Alias] = field(default_factory=list)


@dataclass
class PdfEntry:
    name: str
    numbers: list[str]
    programme_line: str


@dataclass
class Generated:
    entities: list[Entity]
    pdf_entries: list[PdfEntry]
    xml_path: str
    pdf_path: str | None
    xml_bytes: int
    pdf_bytes: int


def _person(rng: random.Random) -> tuple[str, str]:
    """(name, gender letter) of a fresh person, occasionally hyphenated,
    apostrophed or middle-named."""
    female = rng.random() < 0.3
    first = rng.choice(_FEMALE if female else _MALE)
    last = rng.choice(_LAST)
    r = rng.random()
    if r < 0.12:
        last = f"{last}-{rng.choice(_LAST)}"
    elif r < 0.18:
        last = f"O'{last}"
    elif r < 0.45:
        first = f"{first} {rng.choice(_MALE)}"
    if rng.random() < 0.25:
        first = " ".join(_ACCENTED.get(w, w) for w in first.split(" "))
        last = "-".join(_ACCENTED.get(w, w) for w in last.split("-"))
    return f"{first} {last}", "F" if female else "M"


def _confusable(name: str) -> str:
    return name.replace("I", "І").replace("i", "і")


def _entity_aliases(rng: random.Random, primary: str, gender: str) -> list[Alias]:
    aliases = []
    if rng.random() < 0.12:  # Cyrillic-script alias first: selection skips it
        aliases.append(Alias(f"{rng.choice(_CYR)} {rng.choice(_CYR)}", False))
    main = Alias(primary, True)
    if rng.random() < 0.3:
        main.gender = gender
    if rng.random() < 0.25:
        main.function = rng.choice(_FUNCS)
    if rng.random() < 0.2:
        main.title = rng.choice(_TITLES)
    aliases.append(main)
    for _ in range(rng.choice((0, 0, 1, 1, 2))):
        other, _g = _person(rng)
        aliases.append(Alias(other, True))
    if rng.random() < 0.08 and ("I" in primary or "i" in primary):
        aliases.append(Alias(_confusable(primary), True))
    if rng.random() < 0.1:
        aliases.append(Alias(f"{rng.choice(_CYR)} {rng.choice(_CYR)}", False))
    return aliases


def _xml_entity(rng: random.Random, ent: Entity) -> str:
    out = [f'<sanctionEntity designationDate="20{rng.randint(10, 25):02d}-'
           f'{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}" '
           f'euReferenceNumber="EU.{ent.seq}.{rng.randint(1, 99)}">',
           f'  <subjectType code="person" classificationCode='
           f'"{"P" if rng.random() < 0.9 else "E"}"/>']
    if rng.random() < 0.7:
        out.append(f'  <regulation regulationType="amendment" numberTitle='
                   f'"(EU) 20{rng.randint(10, 25)}/{rng.randint(1, 999)}">'
                   f"<publicationUrl>http://example/{ent.seq}</publicationUrl>"
                   f"</regulation>")
    for a in ent.aliases:
        attrs = [f"wholeName={quoteattr(a.whole_name)}"]
        for key, val in (("function", a.function), ("gender", a.gender),
                         ("title", a.title)):
            if val is not None:
                attrs.append(f"{key}={quoteattr(val)}")
        out.append(f"  <nameAlias {' '.join(attrs)}/>")
    for _ in range(rng.choice((0, 1, 1, 2))):
        y = rng.randint(1940, 1995)
        if rng.random() < 0.6:
            out.append(f'  <birthdate birthdate="{y}-{rng.randint(1, 12):02d}-'
                       f'{rng.randint(1, 28):02d}" year="{y}" '
                       f'place={quoteattr(rng.choice(_CITIES))}/>')
        elif rng.random() < 0.5:
            out.append(f'  <birthdate year="{y}"/>')
        else:
            out.append(f'  <birthdate yearRangeFrom="{y}" yearRangeTo="{y + 2}"/>')
    for _ in range(rng.choice((0, 1, 1, 2))):
        out.append(f"  <citizenship countryDescription="
                   f"{quoteattr(rng.choice(_COUNTRIES))}/>")
    for _ in range(rng.choice((0, 1, 1, 2, 3))):
        attrs = [f"city={quoteattr(rng.choice(_CITIES))}",
                 f"countryDescription={quoteattr(rng.choice(_COUNTRIES))}"]
        region, street = rng.choice(_REGIONS), rng.choice(_STREETS)
        if region:
            attrs.append(f"region={quoteattr(region)}")
        if street:
            attrs.append(f"street={quoteattr(street)}")
        if rng.random() < 0.3:
            attrs.append(f'zipCode="{rng.randint(1000, 99999)}"')
        out.append(f"  <address {' '.join(attrs)}/>")
    if rng.random() < 0.3:
        out.append(f"  <remark>{escape(rng.choice(['Listed under programme ' + rng.choice(_PROGRAMMES), 'Associate of a listed person', 'none', 'Taliban regime']))}</remark>")
    out.append("</sanctionEntity>")
    return "\n".join(out)


def _pdf_name(rng: random.Random, name: str) -> str:
    """How the travel-ban PDF spells a listed name: mostly accent-folded
    (the published list is ASCII), sometimes verbatim, sometimes with
    hyphens spaced or doubled whitespace."""
    r = rng.random()
    if r < 0.6:
        return name.translate(_FOLD)
    if r < 0.75:
        return name.translate(_FOLD).replace("-", " ")
    if r < 0.85:
        return name.replace(" ", "  ", 1)
    return name


def generate(seed: int, n_entities: int, out_dir: str, with_pdf: bool = True,
             listed_share: float = 0.6) -> Generated:
    """Write ``feed.xml`` (and ``travel_ban.pdf``) under ``out_dir``."""
    rng = random.Random(seed)
    entities: list[Entity] = []
    # duplicate-name runs: each fresh person is reused by a short run of
    # nearby entities (mean run length about 2.7 -> roughly a third of the
    # names are distinct), mostly adjacent, sometimes interleaved
    pending: list[tuple[str, str, int]] = []
    seq = 0
    while seq < n_entities:
        if pending and rng.random() < 0.6:
            # mostly the newest run (adjacent duplicates), sometimes an older one
            i = len(pending) - 1 if rng.random() < 0.8 else rng.randrange(len(pending))
            name, g, left = pending[i]
            if left <= 1:
                pending.pop(i)
            else:
                pending[i] = (name, g, left - 1)
        else:
            name, g = _person(rng)
            run = rng.choice((1, 1, 2, 3, 4, 5))
            if run > 1:
                pending.append((name, g, run - 1))
        ent = Entity(seq)
        if rng.random() < 0.02:  # no Latin alias at all -> UNKNOWN
            ent.aliases = [Alias(f"{rng.choice(_CYR)} {rng.choice(_CYR)}", False)]
        else:
            ent.aliases = _entity_aliases(rng, name, g)
        entities.append(ent)
        seq += 1

    os.makedirs(out_dir, exist_ok=True)
    xml_path = os.path.join(out_dir, "feed.xml")
    parts = ['<?xml version="1.0" encoding="UTF-8"?>',
             '<export xmlns="http://eu.europa.ec/fpi/fsd/export" '
             'generationDate="2026-01-01">']
    parts += [_xml_entity(rng, e) for e in entities]
    parts.append("</export>\n")
    xml = "\n".join(parts).encode("utf-8")
    with open(xml_path, "wb") as fh:
        fh.write(xml)

    pdf_entries: list[PdfEntry] = []
    pdf_path, pdf_size = None, 0
    if with_pdf:
        for ent in entities:
            latins = [a for a in ent.aliases if a.latin]
            if not latins or rng.random() >= listed_share:
                continue
            # mostly the selected name; otherwise a secondary alias, which
            # gives duplicate-name runs differing candidates
            pick = latins[0] if len(latins) == 1 or rng.random() < 0.75 \
                else rng.choice(latins[1:])
            numbers = [f"EU.{ent.seq}.{rng.randint(1, 9)}"]
            if rng.random() < 0.15:
                numbers.append(f"EU.{ent.seq}.{rng.randint(10, 99)}")
            prog = rng.choice(_PROGRAMMES)
            line = f"OLD | {prog}" if rng.random() < 0.2 else prog
            # the PDF text is Latin-1: other letters arrive as '?'
            name = _pdf_name(rng, pick.whole_name).encode(
                "latin-1", "replace").decode("latin-1")
            pdf_entries.append(PdfEntry(name, numbers, line))
        rng.shuffle(pdf_entries)
        lines = ["EU Consolidated Travel Ban List",
                 "Preamble text that is not an entity chunk."]
        for k, e in enumerate(pdf_entries, start=1):
            lines.append(f"Entity {k}")
            lines.append(f"Name/Alias: {e.name}")
            lines += [f"Number: {n}" for n in e.numbers]
            lines.append(f"Programme: {e.programme_line}")
        pdf = _build_pdf("\n".join(lines))
        pdf_path = os.path.join(out_dir, "travel_ban.pdf")
        with open(pdf_path, "wb") as fh:
            fh.write(pdf)
        pdf_size = len(pdf)
    return Generated(entities, pdf_entries, xml_path, pdf_path, len(xml), pdf_size)


def _build_pdf(text: str) -> bytes:
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    try:
        from make_pdf_fixture import build_pdf
    finally:
        sys.path.pop(0)
    return build_pdf(text)


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    g = generate(int(args[0]), int(args[1]), args[2],
                 with_pdf="--no-pdf" not in sys.argv)
    print(f"{len(g.entities)} entities, {len(g.pdf_entries)} PDF entries, "
          f"xml {g.xml_bytes} B, pdf {g.pdf_bytes} B")
