"""Domain mapper semantics (M1-M15 in SURVEY.md §2.4) and the rule dispatcher.

Each mapper walks one section's list elements, runs an extractor cascade and
emits (subj, pred, obj, obj_datatype) candidate triples; subject is the
extracted entity, object is the page resource (the reference's inverted edge).

Observable reference quirks are kept deliberately — the correctness gate is
triple agreement, and these quirks change the emitted triple set:

  * map_band_members raises on nested lists (reference mapper.py:930 calls the
    undefined ``map_members``); the dispatcher swallows it, so nested members
    emit nothing and the rest of the section is dropped.
  * map_staff never increments the element counter (mapper.py:591-650) and
    anti-joins against alumni/academicDiscipline triples already emitted for
    the same page (mapper.py:646-648).
  * map_honors' award status is loop-carried: a status found in one element
    sticks for subsequent elements (mapper.py:537).
  * map_other_person_details runs general_mapper even when the quote extractor
    already minted a URI (mapper.py:701-721), overwriting it.
  * map_other_literature_details' quote branch is dead code (``elif ref is not
    None`` after ``if ref``, mapper.py:1150) and ``map_failed`` is never
    cleared, so general_mapper always overwrites a reference-based URI.
  * custom mappers raise KeyError when no ontology key matches and no
    "default" entry exists (mapper.py:188-196).

Triples are tuples (subj, pred, obj, obj_dt); obj_dt None -> IRI object,
else the xsd datatype IRI of a literal object.
"""

from __future__ import annotations

import re

from ..rules import (
    CAREER,
    CONTRIBUTION_TYPE,
    CONTRIBUTORS,
    CUSTOM_MAPPERS,
    MAPPING,
    OTHER_LITERATURE_DETAILS,
    OTHER_PERSON_DETAILS,
    PERSON_DETAILS,
    SECTION_DICTS,
)
from .extractors import (
    DBO,
    search_i,
    RDF_TYPE,
    XSD_GYEAR,
    XSD_GYEARMONTH,
    XSD_STRING,
    alumni_profession_mapper,
    award_status_mapper,
    bracket_feature_mapper,
    dbr_ns,
    filmpart_mapper,
    filmtype_mapper,
    general_mapper,
    isbn_mapper,
    italic_mapper,
    list_elem_clean,
    litgenre_mapper,
    month_year_mapper,
    quote_mapper,
    reference_mapper,
    sentence_splitter,
    uri_quote,
)
from .links import NULL_LINKER, Linker


class GraphSet:
    """Set-semantics triple sink (the reference's rdflib.Graph is a set, so
    duplicate adds dedupe — listExtractor.py:72-74)."""

    __slots__ = ("_triples",)

    def __init__(self):
        self._triples = set()

    def add(self, triple):
        self._triples.add(triple)

    def has(self, subj, pred, obj) -> bool:
        return (subj, pred, obj, None) in self._triples

    def triples(self):
        return self._triples

    def __len__(self):
        return len(self._triples)


class MapContext:
    """Per-document execution context: namespace + snapshot linker."""

    __slots__ = ("dbr", "linker", "lang")

    def __init__(self, lang: str = "en", linker: Linker = NULL_LINKER):
        self.lang = lang
        self.dbr = dbr_ns(lang)
        self.linker = linker


_UNSET = object()  # lazy-memo sentinel for per-call loop-invariant lookups


def _match_section_keyword(keywords, sect_name: str):
    """LAST keyword whose lowercase form substring-matches the section name —
    exactly the reference's per-element scan (mapper.py:744-747 et al.), which
    keeps overwriting on every match.  Hoisted out of the element loops:
    (keywords, sect_name) are loop-invariant, and the repeated
    sect_name.lower() + k.lower() per element measured as the single biggest
    cascade cost (map_career ~35% of extract CPU before hoisting)."""
    sl = sect_name.lower()
    found = None
    for k in keywords:
        if k.lower() in sl:
            found = k
    return found


def _mint(name: str, dbr: str) -> str:
    """Fallback IRI mint: ' '->'_' then urllib-quote (reference mapper.py:222-226)."""
    return dbr + uri_quote(name.replace(" ", "_"))


def _italic_branch(elem: str, ctx: MapContext):
    """italic extract -> mutate elem -> mint (shared shape, e.g. mapper.py:866-871)."""
    res_name = italic_mapper(elem)
    if res_name:
        elem = elem.replace(res_name, "")
        return _mint(res_name, ctx.dbr), elem, True
    return None, elem, False


def _reference_branch(elem: str, ctx: MapContext):
    """reference extract -> snapshot link -> else clean+mint with elem mutation
    (shared shape, e.g. mapper.py:874-887)."""
    ref = reference_mapper(elem)
    if ref:
        uri = ctx.linker.wikidata(ref, ctx.lang)
        if uri:
            dbpedia_uri = ctx.linker.dbpedia(uri, ctx.lang)
            if dbpedia_uri:
                uri = dbpedia_uri
        else:
            ref = list_elem_clean(ref)
            elem = elem.replace(ref, "")
            uri = _mint(ref, ctx.dbr)
        return uri, elem, True
    return None, elem, False


def _general_branch(elem: str, res: str, ctx: MapContext):
    uri_name = general_mapper(elem)
    if uri_name and uri_name != "" and uri_name != res:
        return _mint(uri_name, ctx.dbr)
    return None


def add_years_to_graph(g: GraphSet, uri: str, year, year_ontology=None):
    """Year/period triples (reference mapper.py:1179-1232).  '^' separates
    month from year internally; 'Y^M' becomes the gYearMonth lexical 'Y-M'."""
    y_ontology = {
        "activeYear": "activeYear",
        "activeYearsStartDate": "activeYearsStartDate",
        "activeYearsEndDate": "activeYearsEndDate",
    }
    for key, val in (year_ontology or {}).items():
        if key in y_ontology:
            y_ontology[key] = val

    for y in year:
        if not isinstance(y, list):
            if "^" in y:
                d = y.replace("^", "-")
                g.add((uri, DBO + y_ontology["activeYear"], d, XSD_GYEARMONTH))
            else:
                g.add((uri, DBO + y_ontology["activeYear"], y, XSD_GYEAR))
        else:
            if "^" in y[0]:
                d = y[0].replace("^", "-")
                g.add((uri, DBO + y_ontology["activeYearsStartDate"], d, XSD_GYEARMONTH))
            else:
                g.add((uri, DBO + y_ontology["activeYearsStartDate"], y[0], XSD_GYEAR))
            if "^" in y[1]:
                d = y[1].replace("^", "-")
                g.add((uri, DBO + y_ontology["activeYearsEndDate"], d, XSD_GYEARMONTH))
            else:
                g.add((uri, DBO + y_ontology["activeYearsEndDate"], y[1], XSD_GYEAR))


# ---------------------------------------------------------------------------
# Domain mappers.  Shared signature:
#   (elem_list, sect_name, res, lang, g, elems, ctx) -> elems
# res is the page resource IRI; recursion on nested lists discards the child
# count exactly like the reference (return value ignored, counter +1).
# ---------------------------------------------------------------------------


def map_discography(elem_list, sect_name, res, lang, g, elems, ctx):
    """M3 (reference mapper.py:255-318): Album rdf:type + musicalArtist + releaseYear."""
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_discography(elem, sect_name, res, lang, g, elems, ctx)
            continue
        year = month_year_mapper(elem)
        uri = None
        res_name = italic_mapper(elem)
        if res_name is None:
            res_name = quote_mapper(elem)
        if res_name:
            elem = elem.replace(res_name, "")
            uri = _mint(res_name, ctx.dbr)
        else:
            uri, elem, matched = _reference_branch(elem, ctx)
            if not matched:
                uri = _general_branch(elem, res, ctx)
        if uri and uri != "":
            g.add((uri, RDF_TYPE, DBO + "Album", None))
            g.add((uri, DBO + "musicalArtist", res, None))
            elems += 1
            if year:
                add_years_to_graph(g, uri, year, {"activeYear": "releaseYear"})
    return elems


def map_concert_tours(elem_list, sect_name, res, lang, g, elems, ctx):
    """M4 (reference mapper.py:321-384): concertTour rdf:type + musicalArtist + years."""
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_concert_tours(elem, sect_name, res, lang, g, elems, ctx)
            continue
        year = month_year_mapper(elem)
        uri = None
        res_name = italic_mapper(elem)
        if res_name is None:
            res_name = quote_mapper(elem)
        if res_name:
            elem = elem.replace(res_name, "")
            uri = _mint(res_name, ctx.dbr)
        else:
            uri, elem, matched = _reference_branch(elem, ctx)
            if not matched:
                uri = _general_branch(elem, res, ctx)
        if uri and uri != "":
            g.add((uri, RDF_TYPE, DBO + "concertTour", None))
            g.add((uri, DBO + "musicalArtist", res, None))
            elems += 1
            if year:
                add_years_to_graph(g, uri, year)
    return elems


def map_alumni(elem_list, sect_name, res, lang, g, elems, ctx):
    """M6 (reference mapper.py:387-447): alumni edge + notableWork profession literal."""
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_alumni(elem, sect_name, res, lang, g, elems, ctx)
            continue
        uri, elem, matched = _italic_branch(elem, ctx)
        if not matched:
            uri, elem, matched = _reference_branch(elem, ctx)
            if not matched:
                uri = _general_branch(elem, res, ctx)
        if uri and uri != "":
            g.add((uri, DBO + "alumni", res, None))
            elems += 1
            work = alumni_profession_mapper(elem)  # may raise IndexError (kept)
            if work:
                g.add((uri, DBO + "notableWork", work, XSD_STRING))
    return elems


def map_programs_offered(elem_list, sect_name, res, lang, g, elems, ctx):
    """M8 (reference mapper.py:450-508): academicDiscipline edge."""
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_programs_offered(elem, sect_name, res, lang, g, elems, ctx)
            continue
        uri, elem, matched = _italic_branch(elem, ctx)
        if not matched:
            uri, elem, matched = _reference_branch(elem, ctx)
            if not matched:
                uri = _general_branch(elem, res, ctx)
        if uri and uri != "":
            g.add((uri, DBO + "academicDiscipline", res, None))
            elems += 1
    return elems


def map_staff(elem_list, sect_name, res, lang, g, elems, ctx):
    """M7 (reference mapper.py:591-650): staff edge unless the same entity is
    already an alumni/academicDiscipline of this page (within-page anti-join);
    counter never incremented (reference quirk)."""
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_staff(elem, sect_name, res, lang, g, elems, ctx)
            continue
        uri, elem, matched = _italic_branch(elem, ctx)
        if not matched:
            uri, elem, matched = _reference_branch(elem, ctx)
            if not matched:
                uri = _general_branch(elem, res, ctx)
        if uri and uri != "":
            if not g.has(uri, DBO + "alumni", res) and not g.has(
                uri, DBO + "academicDiscipline", res
            ):
                g.add((uri, DBO + "staff", res, None))
    return elems


def map_honors(elem_list, sect_name, res, lang, g, elems, ctx):
    """M9 (reference mapper.py:511-588): awardedTo/awardStatus/AwardedFor/AwardedBy.

    Status resolution order: section name, else element text (sticky across
    later elements), else "Winner"."""
    award_status = award_status_mapper(sect_name, lang)
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_honors(elem, sect_name, res, lang, g, elems, ctx)
            continue
        uri = None
        if award_status is None:
            award_status = award_status_mapper(elem, lang)
        if award_status is None:
            award_status = "Winner"
        elem = (
            elem.replace("Winner", "")
            .replace("Won", "")
            .replace("Nominated", "")
            .replace("Nominee", "")
        )
        for_entity = sentence_splitter(elem, "for", lang, ctx.linker)
        from_entity = sentence_splitter(elem, "from", lang, ctx.linker)  # KeyError non-en
        year = month_year_mapper(elem)

        uri, elem, matched = _reference_branch(elem, ctx)
        if not matched:
            uri_name = quote_mapper(elem)
            if uri_name is None:
                uri_name = general_mapper(elem)
            if uri_name and uri_name != "" and uri_name != res:
                uri = _mint(uri_name, ctx.dbr)

        if uri and uri != "":
            g.add((uri, DBO + "awardedTo", res, None))
            g.add((uri, DBO + "awardStatus", DBO + award_status, None))
            if year:
                add_years_to_graph(g, uri, year)
            if for_entity:
                # raw concat, no quoting (reference mapper.py:582)
                g.add((uri, DBO + "AwardedFor", ctx.dbr + for_entity, None))
            if from_entity:
                g.add((DBO + award_status, DBO + "AwardedBy", ctx.dbr + from_entity, None))
            elems += 1
    return elems


def map_career(elem_list, sect_name, res, lang, g, elems, ctx):
    """M10 (reference mapper.py:731-783): PERSON_DETAILS-typed edge + years.
    Section aborted when no CAREER keyword re-matches (return inside loop).
    The keyword scan is loop-invariant and memoized at the FIRST non-list
    element (not before the loop: the abort must still fire only when a
    non-list element is reached, after any leading nested recursions)."""
    other_details = _UNSET
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_career(elem, sect_name, res, lang, g, elems, ctx)
            continue
        if other_details is _UNSET:
            other_details = _match_section_keyword(CAREER[lang], sect_name)
        if other_details is None:
            return 0
        year = month_year_mapper(elem)
        uri = None
        p = PERSON_DETAILS[lang][other_details]
        uri_name = quote_mapper(elem)
        if uri_name is None or uri_name == res:
            uri_name = general_mapper(elem)
        if uri_name and uri_name != "" and uri_name != res:
            uri = _mint(uri_name, ctx.dbr)
        if uri and uri != "":
            g.add((uri, DBO + p, res, None))
            elems += 1
            if year:
                add_years_to_graph(g, uri, year)
    return elems


def map_other_person_details(elem_list, sect_name, res, lang, g, elems, ctx):
    """M11 (reference mapper.py:653-728).  Kept quirk: when the quote extractor
    minted a URI, ref stays None and the general branch still runs, overwriting
    the quote result (mapper.py:701-721).  Keyword scan memoized at the first
    non-list element (same envelope as map_career)."""
    other_details = _UNSET
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_other_person_details(elem, sect_name, res, lang, g, elems, ctx)
            continue
        if other_details is _UNSET:
            other_details = _match_section_keyword(
                OTHER_PERSON_DETAILS[lang], sect_name
            )
        if other_details is None:
            return 0
        uri = None
        res_name = italic_mapper(elem)
        p = PERSON_DETAILS[lang][other_details]
        if res_name:
            elem = elem.replace(res_name, "")
            uri = _mint(res_name, ctx.dbr)
        else:
            uri_name = quote_mapper(elem)
            if uri_name and uri_name != "" and uri_name != res:
                uri = _mint(uri_name, ctx.dbr)
            ref = None
            if uri is None:
                ref = reference_mapper(elem)
            if ref:
                wk = ctx.linker.wikidata(ref, lang)
                if wk:
                    dbp = ctx.linker.dbpedia(wk, lang)
                    uri = dbp if dbp else wk
                else:
                    ref = list_elem_clean(ref)
                    elem = elem.replace(ref, "")
                    uri = _mint(ref, ctx.dbr)
            else:
                uri_name = general_mapper(elem)
                if uri_name and uri_name != "" and uri_name != res:
                    uri = _mint(uri_name, ctx.dbr)
        if uri and uri != "":
            g.add((uri, DBO + p, res, None))
            elems += 1
    return elems


def map_filmography(elem_list, sect_name, res, lang, g, elems, ctx):
    """M2 (reference mapper.py:786-837): rdf:type FILMOGRAPHY_TYPE + participation
    edge + releaseYear.  No reference extractor in this cascade."""
    film_particip = filmpart_mapper(sect_name, lang)
    filmography_type = filmtype_mapper(sect_name, lang)
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_filmography(elem, sect_name, res, lang, g, elems, ctx)
            continue
        year = month_year_mapper(elem)
        uri = None
        res_name = italic_mapper(elem)
        if res_name:
            elem = elem.replace(res_name, "")
            uri = _mint(res_name, ctx.dbr)
        else:
            uri_name = quote_mapper(elem)
            if uri_name is None:
                uri_name = general_mapper(elem)
            if uri_name and uri_name != "" and uri_name != res:
                uri = _mint(uri_name, ctx.dbr)
        if uri and uri != "":
            g.add((uri, RDF_TYPE, DBO + filmography_type, None))
            if year:
                add_years_to_graph(g, uri, year, {"activeYear": "releaseYear"})
            if film_particip:
                g.add((uri, DBO + film_particip, res, None))
            elems += 1
    return elems


def map_bibliography(elem_list, sect_name, res, lang, g, elems, ctx):
    """M1 (reference mapper.py:840-910): author edge + ISBN literal + years +
    literaryGenre (section-derived, ambiguity-suppressed)."""
    lit_genre = litgenre_mapper(sect_name, lang)
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_bibliography(elem, sect_name, res, lang, g, elems, ctx)
            continue
        uri = None
        year = month_year_mapper(elem)
        res_name = italic_mapper(elem)
        if res_name:
            elem = elem.replace(res_name, "")
            uri = _mint(res_name, ctx.dbr)
        else:
            uri, elem, matched = _reference_branch(elem, ctx)
            if not matched:
                uri_name = quote_mapper(elem)
                if uri_name is None or uri_name == res:
                    uri_name = general_mapper(elem)
                if uri_name and uri_name != "" and uri_name != res:
                    uri = _mint(uri_name, ctx.dbr)
        if uri and uri != "":
            g.add((uri, DBO + "author", res, None))
            elems += 1
            isbn = isbn_mapper(elem)
            if isbn:
                g.add((uri, DBO + "isbn", isbn, XSD_STRING))
                elem = elem.replace(isbn, "")
            if year:
                add_years_to_graph(g, uri, year)
            if lit_genre:
                g.add((uri, DBO + "literaryGenre", DBO + lit_genre, None))
    return elems


def map_band_members(elem_list, sect_name, res, lang, g, elems, ctx):
    """M5 (reference mapper.py:913-971): bandMember edge.  Nested lists raise
    (the reference calls the undefined ``map_members``, mapper.py:930); the
    dispatcher's per-section try/except swallows it, so triples emitted before
    the nested element survive and the rest of the section is lost."""
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            raise NameError("name 'map_members' is not defined")  # mapper.py:930
        uri, elem, matched = _italic_branch(elem, ctx)
        if not matched:
            uri, elem, matched = _reference_branch(elem, ctx)
            if not matched:
                uri = _general_branch(elem, res, ctx)
        if uri and uri != "":
            g.add((uri, DBO + "bandMember", res, None))
            elems += 1
    return elems


def _strip_years_from_elem(elem: str, year) -> str:
    """Year-substring removal before extraction (reference mapper.py:1021-1030):
    str.replace of the year part — all occurrences, single-digit month codes
    included (bug-compatible)."""
    if year:
        for y in year:
            if isinstance(y, list):
                for yy in y:
                    elem = elem.replace(re.split(r"\^", yy)[-1], "")
            else:
                elem = elem.replace(re.split(r"\^", y)[-1], "")
        elem = elem.strip()
    return elem


def map_contributors(elem_list, sect_name, res, lang, g, elems, ctx):
    """M12 (reference mapper.py:974-1070): CONTRIBUTION_TYPE edge (subsection
    split on '-', else bracket feature), else ContributedTo; years removed
    from the element before extraction."""
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_contributors(elem, sect_name, res, lang, g, elems, ctx)
            continue
        contrib_type, subsection = None, None
        search_str = sect_name
        parts = sect_name.split("-")
        if len(parts) > 1:
            subsection = parts[1].strip()
        for t in CONTRIBUTION_TYPE[lang].keys():
            if subsection:
                search_str = subsection
            if search_i(t, search_str):
                contrib_type = CONTRIBUTION_TYPE[lang][t]
                break
        if contrib_type is None:
            feature = bracket_feature_mapper(elem)
            for t in CONTRIBUTION_TYPE[lang]:
                try:
                    if search_i(t, feature):
                        contrib_type = CONTRIBUTION_TYPE[lang][t]
                        break
                except Exception:
                    continue
        year = month_year_mapper(elem)
        elem = _strip_years_from_elem(elem, year)
        uri, elem, matched = _reference_branch(elem, ctx)
        if not matched:
            uri = _general_branch(elem, res, ctx)
        if uri and uri != "":
            if contrib_type:
                g.add((uri, DBO + contrib_type, res, None))
            else:
                g.add((uri, DBO + "ContributedTo", res, None))
            if year:
                add_years_to_graph(g, uri, year)
            elems += 1
    return elems


def map_other_literature_details(elem_list, sect_name, res, lang, g, elems, ctx):
    """M13 (reference mapper.py:1073-1176).  Kept quirks: section skipped when a
    CONTRIBUTORS keyword matches; bracket-feature regex on a None feature raises
    (uncaught here, swallowed by the dispatcher); general_mapper always
    overwrites a reference-minted URI because map_failed is never cleared."""
    for c in CONTRIBUTORS[lang]:
        if search_i(c, sect_name):
            return 0
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_other_literature_details(elem, sect_name, res, lang, g, elems, ctx)
            continue
        detail_type = None
        for t in OTHER_LITERATURE_DETAILS[lang].keys():
            if search_i(t, sect_name):
                detail_type = OTHER_LITERATURE_DETAILS[lang][t]
                break
        if detail_type is None:
            feature = bracket_feature_mapper(elem)
            for t in OTHER_LITERATURE_DETAILS[lang]:
                # TypeError when feature is None — kept (reference mapper.py:1110)
                if search_i(t, feature):
                    detail_type = OTHER_LITERATURE_DETAILS[lang][t]
                    break
        year = month_year_mapper(elem)
        elem = _strip_years_from_elem(elem, year)
        uri, elem, matched = _reference_branch(elem, ctx)
        # map_failed is always True in live reference code: general overwrites
        uri_name = general_mapper(elem)
        if uri_name and uri_name != "" and uri_name != res:
            uri = _mint(uri_name, ctx.dbr)
        if uri and uri != "":
            if detail_type:
                g.add((uri, DBO + detail_type, res, None))
            else:
                g.add((uri, DBO + "WrittenWork", res, None))
            if year:
                add_years_to_graph(g, uri, year)
            elems += 1
    return elems


def map_user_defined_mappings(mapper_fn_name, elem_list, sect_name, res, lang, g, elems, ctx):
    """M14 (reference mapper.py:137-252): data-driven mapper parameterized by
    CUSTOM_MAPPERS (ontology-by-substring with 'default' fallback, extractor
    subset 1..4, optional years).  KeyError when no key matches and the config
    has no 'default' (kept)."""
    mapper_settings = CUSTOM_MAPPERS.get(mapper_fn_name)
    if mapper_settings is None:
        return 0
    ontology_class = _UNSET  # memoized at the first non-list element
    for elem in elem_list:
        if isinstance(elem, list):
            elems += 1
            map_user_defined_mappings(mapper_fn_name, elem, sect_name, res, lang, g, elems, ctx)
            continue
        if ontology_class is _UNSET:
            ontology_class = _match_section_keyword(
                mapper_settings["ontology"][lang], sect_name
            )
        if ontology_class is None:
            if mapper_settings["ontology"][lang]["default"] == "None":  # KeyError kept
                return 0
            ontology_class = "default"
        years = []
        if mapper_settings["years"] == "Yes":
            years = month_year_mapper(elem)
        p = mapper_settings["ontology"][lang][ontology_class]
        extractor_choices = mapper_settings["extractors"]

        uri = None
        res_name = None
        if res_name is None and 1 in extractor_choices:
            res_name = italic_mapper(elem)
            if res_name:
                elem = elem.replace(res_name, "")
                uri = _mint(res_name, ctx.dbr)
        if res_name is None and 2 in extractor_choices:
            res_name = reference_mapper(elem)
            if res_name:
                uri = ctx.linker.wikidata(res_name, lang)
                if uri:
                    dbp = ctx.linker.dbpedia(uri, lang)
                    if dbp:
                        uri = dbp
                else:
                    res_name = list_elem_clean(res_name)
                    elem = elem.replace(res_name, "")
                    uri = _mint(res_name, ctx.dbr)
        if res_name is None and 3 in extractor_choices:
            res_name = quote_mapper(elem)
            if res_name:
                elem = elem.replace(res_name, "")
                uri = _mint(res_name, ctx.dbr)
        if res_name is None and 4 in extractor_choices:
            res_name = general_mapper(elem)
            if res_name and res_name != "" and res_name != res:
                uri = _mint(res_name, ctx.dbr)

        if uri and uri != "":
            g.add((uri, DBO + p, res, None))
            elems += 1
            if years:
                add_years_to_graph(g, uri, years)
    return elems


MAPPER_FNS = {
    "BIBLIOGRAPHY": map_bibliography,
    "FILMOGRAPHY": map_filmography,
    "DISCOGRAPHY": map_discography,
    "CONCERT_TOURS": map_concert_tours,
    "BAND_MEMBERS": map_band_members,
    "ALUMNI": map_alumni,
    "STAFF": map_staff,
    "PROGRAMS_OFFERED": map_programs_offered,
    "HONORS": map_honors,
    "CAREER": map_career,
    "OTHER_PERSON_DETAILS": map_other_person_details,
    "CONTRIBUTORS": map_contributors,
    "OTHER_LITERATURE_DETAILS": map_other_literature_details,
}


def select_mapping(res_dict, res, lang, res_class, g, ctx=None, mapped_domains=None):
    """Rule dispatcher (reference mapper.py:45-134).

    Per resource: pick domains from MAPPING[res_class]; per domain, match
    section titles against the domain's keyword list (re.IGNORECASE, first
    keyword wins per section per domain); run the mapper with a per-section
    try/except that swallows everything (reference mapper.py:126-127) — a
    failing keyword match leaves ``mapped`` False so the *same* section can be
    retried under the next keyword.

    Deviation from the reference: an unavailable language aborts the whole run
    there (sys.exit, mapper.py:94-101); here the domain is skipped — a
    distributed engine must not kill the job for one document.
    """
    if ctx is None:
        ctx = MapContext(lang)
    if res_class not in MAPPING:
        return 0
    db_res = ctx.dbr + res  # page IRI: raw concat, no quoting (mapper.py:79)
    res_elems = 0
    if mapped_domains is None:
        mapped_domains = []
    for domain in MAPPING[res_class]:
        if domain in mapped_domains:
            continue
        is_custom = False
        if domain in SECTION_DICTS:
            per_lang = SECTION_DICTS[domain]
            if lang not in per_lang:
                continue
            domain_keys = per_lang[lang]
            if isinstance(domain_keys, dict):
                domain_keys = list(domain_keys.keys())
        elif domain in CUSTOM_MAPPERS:
            is_custom = True
            headers = CUSTOM_MAPPERS[domain]["headers"]
            if lang not in headers:
                continue
            domain_keys = headers[lang]
        else:
            continue
        mapped_domains.append(domain)
        for res_key in res_dict.keys():
            mapped = False
            for dk in domain_keys:
                if not mapped and search_i(dk, res_key):
                    try:
                        if not is_custom:
                            res_elems += MAPPER_FNS[domain](
                                res_dict[res_key], res_key, db_res, lang, g, 0, ctx
                            )
                        else:
                            res_elems += map_user_defined_mappings(
                                domain, res_dict[res_key], res_key, db_res, lang, g, 0, ctx
                            )
                        mapped = True
                    except Exception:
                        pass  # reference mapper.py:126-127 swallows and continues
    return res_elems


def extract_document(doc_id, res_class, lang, spans, linker=NULL_LINKER):
    """End-to-end single-document extraction: span fold -> dispatch -> triples.

    ``res_class`` is one class or a list of classes (the reference's single
    mode runs select_mapping once per rdf:type with the domain-dedup list
    SHARED across types — listExtractor.py:96-98, mapper.py:36,107).

    Returns (triples, stats) where triples is the set of
    (subj, pred, obj, obj_dt) and stats = (sections, items, extracted).
    This is the unit of work both the oracle and the Spark mapInArrow extract
    kernel (engine/extract.py, shared by batch and streaming) run.
    """
    from .parser import parse_spans

    res_dict = parse_spans(spans, lang)
    g = GraphSet()
    ctx = MapContext(lang, linker)
    classes = res_class if isinstance(res_class, (list, tuple)) else [res_class]
    mapped_domains: list = []
    extracted = 0
    for klass in classes:
        extracted += select_mapping(
            res_dict, doc_id, lang, klass, g, ctx, mapped_domains=mapped_domains
        )
    n_items = sum(len(v) for v in res_dict.values())
    return g.triples(), (len(res_dict), n_items, extracted)
