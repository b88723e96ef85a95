"""Differential parity: parse the reference's TOKEN_METADATA object
(/root/reference/src/token-metadata.ts) at test time and assert our
flag sets agree for every token name that maps into our vocabulary."""

import re
from pathlib import Path

import pytest

from conftest import HAVE_REFERENCE, requires_reference
from mentor_rdf_parsers_spark.functions import token_metadata as tm

if not HAVE_REFERENCE:
    pytest.skip(requires_reference.kwargs["reason"], allow_module_level=True)

REF = Path("/root/reference/src/token-metadata.ts")

# reference name → this engine's token-type name (the reference suffixes
# _KW to dodge TS identifier clashes; we don't need to)
NAME_MAP = {
    "A": "A",
    "MIN_KW": "MIN", "MAX_KW": "MAX", "REPLACE_KW": "REPLACE",
    "ABS_KW": "ABS", "IF_KW": "IF", "LANG_KW": "LANG", "IRI_KW": "IRI",
    "URI_KW": "URI", "BNODE_KW": "BNODE", "UUID_KW": "UUID",
    "TRIPLE_KW": "TRIPLE", "SUBJECT_KW": "SUBJECT",
    "PREDICATE_KW": "PREDICATE", "OBJECT_KW": "OBJECT", "TZ_KW": "TZ",
    "WITH_KW": "WITH", "DEFAULT_KW": "DEFAULT", "ALL_KW": "ALL",
    "CREATE_KW": "CREATE", "ADD_KW": "ADD", "DELETE_KW": "DELETE",
    "OPTIONAL_KW": "OPTIONAL", "MINUS_KW": "MINUS", "BIND_KW": "BIND",
    "ASC_KW": "ASC", "DESC_KW": "DESC", "IN_KW": "IN", "AS_KW": "AS",
    # variable tokens: ours is a single VAR type (plus N3 QUICK_VAR)
    "VAR1": "VAR", "VAR2": "VAR",
}

# reference flag name → our TokenMetadata attribute
FLAG_MAP = {
    "isKeyword": "is_keyword",
    "isLowercaseOnly": "is_lowercase_only",
    "isMajorClause": "is_major_clause",
    "isNewlineKeyword": "is_newline_keyword",
    "isFunction": "is_function",
    "isTerm": "is_term",
    "isIri": "is_iri",
    "isLiteral": "is_literal",
    "isPunctuation": "is_punctuation",
    "isOpeningBracket": "is_opening_bracket",
    "isClosingBracket": "is_closing_bracket",
    "noSpaceBefore": "no_space_before",
    "isBlankNodeScope": "is_blank_node_scope",
    "isWhitespace": "is_whitespace",
    "isComment": "is_comment",
}

# reference rows with no counterpart token in our vocabularies (distinct
# lexer designs): our SPARQL lexer folds keywords into a generic KW/WORD
# pair resolved by the parser, and N-ary numeric sign variants collapse
# into INTEGER/DECIMAL/DOUBLE by regex.
ABSENT_OK = {
    "INTEGER_POSITIVE", "DECIMAL_POSITIVE", "DOUBLE_POSITIVE",
    "INTEGER_NEGATIVE", "DECIMAL_NEGATIVE", "DOUBLE_NEGATIVE",
    "STAR", "SLASH", "PIPE", "PLUS_SIGN", "MINUS_SIGN",
    "QUESTION_MARK", "BANG", "EQ", "NEQ", "LT", "GT", "LTE", "GTE",
}


def _parse_reference_metadata():
    text = REF.read_text()
    body = text.split("TOKEN_METADATA", 1)[1]
    entries = {}
    for m in re.finditer(r"^\s{4}([A-Z][A-Z0-9_]*):\s*\{([^}]*)\}", body, re.M):
        name, flags_src = m.group(1), m.group(2)
        flags = dict.fromkeys(re.findall(r"(\w+):\s*true", flags_src), True)
        entries[name] = flags
    return entries


REF_META = _parse_reference_metadata()


def test_reference_metadata_parsed():
    # sanity: the regex extraction found the full table
    assert len(REF_META) > 140
    assert REF_META["SELECT"] == {"isKeyword": True, "isMajorClause": True}


@pytest.mark.parametrize("ref_name", sorted(REF_META))
def test_flags_match_reference(ref_name):
    ours_name = NAME_MAP.get(ref_name, ref_name)
    md = tm.get_token_metadata(ours_name)
    if md is None:
        assert ref_name in ABSENT_OK, (
            f"reference categorizes {ref_name} but {ours_name} is "
            f"uncategorized here and not on the known-absent list"
        )
        return
    ref_flags = REF_META[ref_name]
    for ref_flag, attr in FLAG_MAP.items():
        expected = ref_flags.get(ref_flag, False)
        actual = getattr(md, attr)
        # VAR merges VAR1/VAR2 (identical rows in the reference), so no
        # special-casing needed; everything must match exactly.
        assert actual == expected, (
            f"{ref_name}->{ours_name}: {ref_flag} reference={expected} "
            f"ours={actual}"
        )
