"""Seeded ABR XML + Common Crawl index batches with a planted match truth.

Follows the FIXTURES.md §1-2 recipe.  Every crawl probe is a URL
``https://www.<slug>.com.au/``; the offline ``StubFetchClient`` turns the
slug into the page, so the crawl side's ABN is ``_checksum_valid_abn(s)``
and its postcode ``2000 + s % 999`` where ``s`` is the slug's character
sum.  The generator plants, per batch:

* rule probes   - an ABR record carrying the probe's stub ABN
                  (stage 1, ``rule_based_abn``);
* fuzzy probes  - an ABR record with another ABN, the probe's postcode and
                  a near variant of the probe's name (stage 2, ``fuzzy``);
* LLM probes    - a five-letter slug and an ABR record in its postcode whose
                  five words have those initials (stage 3, ``LLM``);
* negative probes - one whose postcode holds no ABR record, and one whose
                  block holds only a dissimilar name (unmatched);
* noise records - four-word names on a skewed (Zipf) choice of the probes'
                  postcodes, so a few blocks are hot;
* noise pages   - crawl pages named by made-up words, which no ABR record
                  resembles (unmatched).

Slug character sums are unique within a batch, so stub ABNs never collide.
Every other ABN is built on a nine-digit body from 900000000 up, which no
stub ABN has.
"""

from __future__ import annotations

import itertools
import json
import os
import random
from xml.sax.saxutils import escape

from firmable_company_data_pipeline_spark.sources.commoncrawl import _checksum_valid_abn

# Word lists are disjoint by role, so no two roles can score against each
# other: probe names use _NAME_WORDS, noise names _NOISE_WORDS.
_NAME_WORDS = (
    "harbour timber granite orchard copper meadow falcon summit river cedar "
    "beacon willow quarry lantern anchor prairie maple harvest silver canyon "
    "thistle ember coral juniper basalt marble saddle tundra pebble walnut "
    "fjord glacier heron ivory jasper kelp lagoon mosaic nectar opal "
    "pelican quartz raven sparrow tidal velvet wattle yarra zinnia banksia "
    "coastal dingo emu fossil gumtree hawthorn ironbark jetty kookaburra "
    "lyrebird mallee numbat outback platypus quokka rosella spinifex "
    "tasman uluru vineyard wombat saltbush bluegum redgum"
).split()
_NOISE_WORDS = (
    "united general national pacific southern eastern western northern "
    "consolidated holdings logistics services trading industries enterprises "
    "partners ventures systems solutions group associates management"
).split()
# one word per initial letter, for the LLM probes' legal names
_LLM_WORDS = {w[0]: w for w in (
    "acorn bramble clover dune elm fern grove hollow iris jade knoll lotus "
    "mesa nook oak pine quill reed sage thorn umber vale wren yarrow zephyr"
).split()}
_ABN_WEIGHTS = (10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19)
# made-up words for the noise pages' slugs
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_SUFFIXES = ("PTY", "LIMITED", "PTY LTD")
_TYPES = ("Australian Private Company", "Australian Public Company")

# Planted matches per batch, then the noise on each side.  The noise sizes
# set how much of a batch's time is per-record work (see the README's
# "Company batch size").
N_RULE, N_FUZZY, N_LLM, N_NOISE, N_NOISE_PAGES = 12, 12, 8, 768, 512


def _slug_sum(slug: str) -> int:
    return sum(ord(c) for c in slug)


def stub_postcode(slug: str) -> str:
    return str(2000 + _slug_sum(slug) % 999)


def stub_abn(slug: str) -> str:
    return _checksum_valid_abn(_slug_sum(slug))


def valid_abn(body: int) -> str:
    """The valid ABN on the nine digits ``body``: its two leading digits
    make the ABN checksum (first digit less one, weighted, sum mod 89) zero."""
    digits = f"{body:09d}"
    c = -sum(int(d) * w for d, w in zip(digits, _ABN_WEIGHTS[2:])) % 89
    return f"{c // 10 + 1}{c % 10}{digits}"


def _fuzzy_variant(rng: random.Random, w1: str, w2: str) -> str:
    """A legal name that only the fuzzy stage can match to ``w1-w2``:
    ``W1 & W2`` (equal after token-sort normalization), or one letter
    dropped from the longer word (Levenshtein ratio >= 88 on these words)."""
    if rng.random() < 0.5:
        return f"{w1.upper()} & {w2.upper()}"
    if len(w1) < len(w2):
        cut = len(w2) // 2
        w2 = w2[:cut] + w2[cut + 1:]
    else:
        cut = len(w1) // 2
        w1 = w1[:cut] + w1[cut + 1:]
    return f"{w1.title()} {w2.title()}"


def _abr_xml(r: dict) -> str:
    day = r["day"]
    return (
        f'<ABR recordLastUpdatedDate="20240101">'
        f'<ABN status="ACT" ABNStatusFromDate="2019{1 + day % 12:02d}{1 + day % 28:02d}">{r["abn"]}</ABN>'
        f"<EntityType><EntityTypeInd>PRV</EntityTypeInd>"
        f"<EntityTypeText>{r['etype']}</EntityTypeText></EntityType>"
        f'<MainEntity><NonIndividualName type="MN"><NonIndividualNameText>'
        f"{escape(r['name'])}</NonIndividualNameText></NonIndividualName>"
        f"<BusinessAddress><AddressDetails><State>NSW</State>"
        f"<Postcode>{r['postcode']}</Postcode></AddressDetails></BusinessAddress>"
        f"</MainEntity></ABR>"
    )


def make_batch(seed: int, batch: int) -> tuple[list[str], list[dict], dict]:
    """(crawl slugs, ABR records, truth) for one batch.

    ``truth`` maps each expected matched domain to (match_method, abr_abn);
    domains absent from it must stay unmatched."""
    rng = random.Random(f"company:{seed}:{batch}")
    used_sums: set[int] = set()
    noise_bodies = itertools.count(900_000_000)
    words = rng.sample(_NAME_WORDS, len(_NAME_WORDS))
    slugs, records, truth = [], [], {}

    def fresh(slug: str) -> bool:
        s = _slug_sum(slug)
        if s in used_sums:
            return False
        used_sums.add(s)
        return True

    def noise_abn() -> str:
        return valid_abn(next(noise_bodies))

    def add(abn, name, postcode):
        records.append(dict(abn=abn, name=name, etype=rng.choice(_TYPES),
                            postcode=postcode, day=len(records) + 1))

    # rule and fuzzy probes take two unused words each
    for method, count in (("rule_based_abn", N_RULE), ("fuzzy", N_FUZZY)):
        made = 0
        while made < count:
            w1, w2 = words.pop(), words.pop()
            slug = f"{w1}-{w2}"
            if not fresh(slug):
                continue
            slugs.append(slug)
            pc = stub_postcode(slug)
            if method == "rule_based_abn":
                abn = stub_abn(slug)
                # the legal name need not resemble the domain: the ABN decides
                add(abn, f"{w2.upper()} {w1.upper()} {rng.choice(_SUFFIXES)}", pc)
            else:
                abn = noise_abn()
                add(abn, _fuzzy_variant(rng, w1, w2), pc)
            truth[f"{slug}.com.au"] = (method, abn)
            made += 1

    # LLM probes: five-letter initialisms of five-word legal names
    letters = sorted(_LLM_WORDS)
    made = 0
    while made < N_LLM:
        initials = "".join(rng.choice(letters) for _ in range(5))
        if not fresh(initials):
            continue
        slugs.append(initials)
        abn = noise_abn()
        add(abn, " ".join(_LLM_WORDS[c].upper() for c in initials), stub_postcode(initials))
        truth[f"{initials}.com.au"] = ("LLM", abn)
        made += 1

    probe_postcodes = [stub_postcode(s) for s in slugs]
    taken = set(probe_postcodes)
    # negative probe 1: a postcode no ABR record uses; negative probe 2:
    # its block holds only a dissimilar noise name
    for with_record in (False, True):
        while True:
            slug = "-".join(rng.sample(_NAME_WORDS, 3))
            pc = stub_postcode(slug)
            if pc not in taken and fresh(slug):
                break
        slugs.append(slug)
        taken.add(pc)
        if with_record:
            add(noise_abn(), " ".join(rng.sample(_NOISE_WORDS, 4)).upper(), pc)

    # skewed noise: postcode rank r drawn with weight 1/(r+1)
    hot = rng.sample(probe_postcodes, len(probe_postcodes))
    weights = [1.0 / (r + 1) for r in range(len(hot))]
    for pc in rng.choices(hot, weights=weights, k=N_NOISE):
        add(noise_abn(), " ".join(rng.sample(_NOISE_WORDS, 4)).upper(), pc)

    made = 0
    while made < N_NOISE_PAGES:
        slug = "-".join("".join(rng.choices(_SYLLABLES, k=rng.randint(2, 4)))
                        for _ in range(rng.randint(2, 3)))
        if fresh(slug):
            slugs.append(slug)
            made += 1

    rng.shuffle(slugs)
    rng.shuffle(records)
    return slugs, records, truth


def write_batch(seed: int, batch: int, out_dir: str) -> dict:
    """Write one batch's ``abr.xml`` and ``index.json`` under ``out_dir``;
    return the batch spec the workload needs (paths and truth)."""
    slugs, records, truth = make_batch(seed, batch)
    os.makedirs(out_dir, exist_ok=True)
    xml_path = os.path.join(out_dir, "abr.xml")
    with open(xml_path, "w") as fh:
        fh.write("<Transfer>\n")
        for r in records:
            fh.write(_abr_xml(r) + "\n")
        fh.write("</Transfer>\n")
    index_path = os.path.join(out_dir, "index.json")
    with open(index_path, "w") as fh:
        for i, slug in enumerate(slugs):
            fh.write(json.dumps({
                "url": f"https://www.{slug}.com.au/",
                "filename": f"crawl-data/CC-MAIN-2025/segments/{batch}/warc/{i}.warc.gz",
                "offset": str(1000 * i),
                "length": "900",
                "status": "200",
                "mime": "text/html",
            }) + "\n")
    return {"xml": xml_path, "index": index_path, "truth": truth,
            "n_cc": len(slugs), "n_abr": len(records)}
