"""DuckDB oracle SQL for every entry in ``plans.queries.QUERIES``.

Each SQL string is ANSI-ish DuckDB dialect over the driver's pre-registered
views (documents, lineitem, events, embeddings, ...) plus literal CTEs
rendered from the same fixture constants the Spark side uses
(``fixtures.*_cte``).  The chain of CTEs below mirrors the Spark plan stage
by stage; dialect deltas vs Spark are confined to:

  * title-case: DuckDB has no initcap → list_transform emulation
  * upper(): DuckDB maps ß→ẞ where Python/JVM map ß→SS → emulated as
    upper(replace(x,'ß','ss'))
  * variation priority values are ordinal (gaps) instead of dense — only the
    ORDER they induce is observable, and it is identical.
"""

from __future__ import annotations

from .. import fixtures

# -- dialect helpers --------------------------------------------------------

# char-wise str.title() emulation (EVERY uncased char is a word boundary,
# matching functions.textfns.title_case / Python str.title) — not initcap.
_TITLE = ("array_to_string(list_transform(string_split({x}, ''), (c, i) -> "
          "CASE WHEN NOT regexp_matches(c, '[\\p{{Lu}}\\p{{Ll}}\\p{{Lt}}]') THEN c "
          "WHEN i = 1 OR NOT regexp_matches({x}[i-1:i-1], '[\\p{{Lu}}\\p{{Ll}}\\p{{Lt}}]') "
          "THEN upper(replace(c, 'ß', 'ss')) ELSE lower(c) END), '')")
_PYUPPER = "upper(replace({x}, 'ß', 'ss'))"


def _base_ctes() -> list[str]:
    return [fixtures.docs_cte(), fixtures.gazetteer_cte(), fixtures.kb_pages_cte(),
            fixtures.aliases_cte(), fixtures.redirects_cte()]


_MENTION_CHAIN = """
raw_mentions AS (
  SELECT d.url, d.link_lang, g.surface, g.label, g.type,
         strpos(d.body_text, g.surface) AS pos
  FROM docs d JOIN gaz g ON strpos(d.body_text, g.surface) > 0
),
deduped AS (
  SELECT url, link_lang, surface, label, type, pos FROM raw_mentions
  QUALIFY row_number() OVER (PARTITION BY url, lower(label)
                             ORDER BY pos, surface, label) = 1
),
capped AS (
  SELECT url, link_lang, surface, label, type, pos,
         row_number() OVER (PARTITION BY url ORDER BY pos, surface, label) AS mention_idx
  FROM deduped
  QUALIFY row_number() OVER (PARTITION BY url ORDER BY pos, surface, label) <= 10
)
"""

_PROBE_CHAIN = f"""
m_keys AS (SELECT DISTINCT label, link_lang FROM capped),
vars0 AS (
  SELECT label, link_lang,
    [{_TITLE.format(x='label')},
     lower(label),
     {_PYUPPER.format(x='label')},
     CASE WHEN label LIKE 'Der %' THEN label[5:] END,
     CASE WHEN label LIKE 'Die %' THEN label[5:] END,
     CASE WHEN label LIKE 'Das %' THEN label[5:] END,
     replace(label, 'ß', 'ss'),
     replace(label, 'ä', 'ae'),
     replace(label, 'ö', 'oe'),
     replace(label, 'ü', 'ue')] AS cand
  FROM m_keys),
vars AS (
  SELECT label, link_lang, probe, idx FROM (
    SELECT label, link_lang, unnest(cand) AS probe,
           generate_subscripts(cand, 1) AS idx
    FROM vars0) u
  WHERE probe IS NOT NULL AND probe <> label
  QUALIFY row_number() OVER (PARTITION BY label, link_lang, probe ORDER BY idx) = 1),
probes AS (
  SELECT label, link_lang, label AS probe, link_lang AS probe_lang, 0 AS prio FROM m_keys
  UNION ALL
  SELECT label, link_lang, label, 'de', 1 FROM m_keys WHERE link_lang <> 'de'
  UNION ALL
  SELECT label, link_lang, probe, link_lang, idx + 1 FROM vars)
"""

_LINK_CHAIN = """
resolved AS (
  SELECT p.label, p.link_lang, p.prio, p.probe_lang, p.probe,
         coalesce(r.to_title, p.probe) AS resolved
  FROM probes p LEFT JOIN redirects r
    ON p.probe = r.from_title AND p.probe_lang = r.lang),
cands AS (
  SELECT res.label, res.link_lang, res.prio, res.probe_lang, a.alias_prio,
         k.title, k.title_other, k.abstract, k.wikidata_id, k.categories,
         k.internal_links, k.infobox_type, k.geo_lat, k.geo_lon, k.thumbnail_url,
         k.instance_of, k.subclass_of, k.part_of, k.has_part
  FROM resolved res
  JOIN aliases a ON res.resolved = a.alias AND res.probe_lang = a.lang
  JOIN kb k ON a.title = k.title AND res.probe_lang = k.lang
  WHERE k.abstract IS NOT NULL AND k.abstract <> ''),
best AS (
  SELECT * FROM cands
  QUALIFY row_number() OVER (PARTITION BY label, link_lang
                             ORDER BY prio, alias_prio, title) = 1),
joined AS (
  SELECT c.url, c.link_lang, c.surface, c.label, c.type, c.pos, c.mention_idx,
         b.probe_lang AS hit_lang, b.title, b.title_other, b.abstract,
         b.wikidata_id, b.categories, b.internal_links, b.infobox_type,
         b.geo_lat, b.geo_lon, b.thumbnail_url,
         b.instance_of, b.subclass_of, b.part_of, b.has_part
  FROM capped c LEFT JOIN best b
    ON c.label = b.label AND c.link_lang = b.link_lang),
e0 AS (
  SELECT *,
    (title IS NOT NULL) AS found,
    CASE WHEN hit_lang = 'de' THEN title ELSE title_other END AS title_de,
    CASE WHEN hit_lang = 'en' THEN title ELSE title_other END AS title_en
  FROM joined),
e1 AS (
  SELECT *,
    coalesce(title_de, '') AS label_de0,
    coalesce(title_en, '') AS label_en,
    CASE WHEN title_de IS NOT NULL AND title_de <> ''
         THEN 'https://de.wikipedia.org/wiki/' || replace(title_de, ' ', '_')
         ELSE '' END AS url_de0,
    CASE WHEN title_en IS NOT NULL AND title_en <> ''
         THEN 'https://en.wikipedia.org/wiki/' || replace(title_en, ' ', '_')
         ELSE '' END AS url_en0,
    CASE WHEN found THEN 'found' ELSE 'not_found' END AS wiki_status0
  FROM e0),
e2 AS (
  SELECT *,
    CASE WHEN label_de0 = '' THEN label ELSE label_de0 END AS label_de,
    CASE WHEN url_de0 = '' AND wiki_status0 = 'not_found'
         THEN 'found_from_prompt' ELSE wiki_status0 END AS wiki_status,
    CASE WHEN url_en0 = '' AND label_en <> ''
         THEN 'https://en.wikipedia.org/wiki/' || replace(label_en, ' ', '_')
         ELSE url_en0 END AS url_en
  FROM e1),
e3 AS (
  SELECT *,
    CASE WHEN url_de0 = ''
         THEN 'https://de.wikipedia.org/wiki/' || replace(label_de, ' ', '_')
         ELSE url_de0 END AS url_de,
    CASE WHEN trim(label_en) <> ''
         THEN 'http://dbpedia.org/resource/' || replace(trim(label_en), ' ', '_')
         WHEN url_en LIKE '%en.wikipedia.org/wiki/%'
         THEN 'http://dbpedia.org/resource/' ||
              string_split(url_en, 'en.wikipedia.org/wiki/')[-1]
         ELSE '' END AS dbpedia_uri,
    CASE WHEN found THEN coalesce(wikidata_id, '') ELSE '' END AS wikidata_out
  FROM e2),
entities AS (
  SELECT url, link_lang, label, type, pos, mention_idx,
    label_de, label_en, url_de, url_en,
    CASE WHEN found THEN coalesce(abstract, '') ELSE '' END AS extract,
    wikidata_out AS wikidata_id,
    CASE WHEN found THEN coalesce(thumbnail_url, '') ELSE '' END AS thumbnail_url,
    CASE WHEN found THEN coalesce(infobox_type, '') ELSE '' END AS infobox_type,
    CASE WHEN found THEN geo_lat END AS geo_lat,
    CASE WHEN found THEN geo_lon END AS geo_lon,
    dbpedia_uri, wiki_status,
    CASE WHEN wiki_status IN ('found', 'found_from_prompt') AND wikidata_out <> ''
         THEN 'linked' ELSE 'not_linked' END AS status,
    sha256(url || label) AS entity_id,
    CASE WHEN found THEN coalesce(categories, []) ELSE [] END AS categories,
    CASE WHEN found THEN coalesce(internal_links, []) ELSE [] END AS internal_links,
    CASE WHEN found THEN coalesce(instance_of, []) ELSE [] END AS instance_of,
    CASE WHEN found THEN coalesce(subclass_of, []) ELSE [] END AS subclass_of,
    CASE WHEN found THEN coalesce(part_of, []) ELSE [] END AS part_of,
    CASE WHEN found THEN coalesce(has_part, []) ELSE [] END AS has_part
  FROM e3)
"""


def _with(*chains: str, final: str) -> str:
    parts = _base_ctes() + [c.strip().strip(",") for c in chains if c.strip()]
    return "WITH " + ",\n".join(p.strip() for p in parts) + "\n" + final


def _full_chain(final: str) -> str:
    return _with(_MENTION_CHAIN, _PROBE_CHAIN, _LINK_CHAIN, final=final)


ORACLE: dict[str, str] = {}

ORACLE["q01_docs_derive"] = _with(final="""
SELECT url, lang, link_lang, length(body_text) AS body_len,
       strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS warc_ts_str
FROM docs""")

ORACLE["q02_clean_text"] = _with(final="""
SELECT url, length(t) AS clean_len, sha256(t) AS clean_sha
FROM (SELECT url, trim(regexp_replace(body_text, '\\s+', ' ', 'g')) AS t FROM docs)""")

ORACLE["q03_mentions"] = _with(_MENTION_CHAIN, final="""
SELECT url, surface, label, type, pos FROM raw_mentions""")

def _q04_sql() -> str:
    # same unicode-boundary emulation as the Spark side (queries.NER_PATTERNS
    # over separator-DOUBLED text, entity = capture group 2, p1's doubled
    # internal space collapsed back in the label)
    from .queries import NER_DOUBLE_SEP, NER_PATTERNS
    parts = " ||\n      ".join(
        "list_transform(list_slice(regexp_extract_all(b2,\n"
        f"        '{p}', 2), 1, 10),\n"
        f"        x -> {{'label': replace(x, '  ', ' '), 'type': '{t}'}})"
        for p, t in NER_PATTERNS)
    return _with(final=f"""
SELECT url, CAST(generate_subscripts(ents, 1) AS BIGINT) AS ent_idx,
       unnest(ents, recursive := true)
FROM (
  SELECT url, list_slice(
      {parts}, 1, 10) AS ents
  FROM (SELECT url, regexp_replace(body_text, '{NER_DOUBLE_SEP}', '\\1\\1', 'g') AS b2
        FROM docs) d0) t""")


ORACLE["q04_mentions_regex"] = _q04_sql()

ORACLE["q05_mention_dedup_cap"] = _with(_MENTION_CHAIN, final="""
SELECT url, label, type, pos, mention_idx FROM capped""")

ORACLE["q06_type_filter"] = _with(_MENTION_CHAIN, final="""
SELECT url, label, type, mention_idx FROM capped
WHERE type IN ('PERSON', 'LOCATION')""")

ORACLE["q07_probe_keys"] = _with(_MENTION_CHAIN, _PROBE_CHAIN, final="""
SELECT label, link_lang, probe, probe_lang,
       row_number() OVER (PARTITION BY label, link_lang ORDER BY prio) AS probe_rank
FROM probes""")

ORACLE["q08_redirect_resolve"] = _with(_MENTION_CHAIN, _PROBE_CHAIN, final="""
SELECT p.label, p.link_lang, p.probe, p.probe_lang,
       coalesce(r.to_title, p.probe) AS resolved
FROM probes p LEFT JOIN redirects r
  ON p.probe = r.from_title AND p.probe_lang = r.lang""")

ORACLE["q09_candidates"] = _full_chain("""
SELECT label, link_lang, probe_lang, title, wikidata_id FROM cands""")

ORACLE["q10_best_pick"] = _full_chain("""
SELECT label, link_lang, probe_lang AS hit_lang, title, wikidata_id FROM best""")

ORACLE["q11_entities"] = _full_chain("""
SELECT url, label, type, CAST(mention_idx AS BIGINT) AS mention_idx,
       label_de, label_en, url_de, url_en,
       extract, wikidata_id, thumbnail_url, infobox_type,
       CAST(geo_lat AS VARCHAR) AS geo_lat_str,
       CAST(geo_lon AS VARCHAR) AS geo_lon_str,
       dbpedia_uri, wiki_status, status, entity_id,
       coalesce(array_to_string(categories, '|'), '') AS categories_str,
       coalesce(array_to_string(internal_links, '|'), '') AS links_str
FROM entities""")

# triple-emission union body — shared by q12 (the edge table) and q55 (the
# envelope's total_relationships count)
_TRIPLES_BODY = """
  SELECT url, label_de AS subj, 'instance_of' AS pred, type AS obj FROM entities
  UNION ALL
  SELECT url, label_de, 'same_as', wikidata_id FROM entities WHERE wikidata_id <> ''
  UNION ALL
  SELECT url, label_de, 'same_as', dbpedia_uri FROM entities WHERE dbpedia_uri <> ''
  UNION ALL
  SELECT url, label_de, 'has_category', unnest(categories) FROM entities
  UNION ALL
  SELECT url, label_de, 'links_to', unnest(internal_links) FROM entities
  UNION ALL
  SELECT url, label_de, 'part_of', unnest(part_of) FROM entities
  UNION ALL
  SELECT url, label_de, 'has_part', unnest(has_part) FROM entities
  UNION ALL
  SELECT url, label_de, 'located_at',
         CAST(geo_lat AS VARCHAR) || ',' || CAST(geo_lon AS VARCHAR)
  FROM entities WHERE geo_lat IS NOT NULL AND geo_lon IS NOT NULL"""

ORACLE["q12_triples"] = _full_chain(f"""
SELECT url, subj, pred, obj FROM ({_TRIPLES_BODY}) t""")

ORACLE["q59_nodes"] = _full_chain("""
SELECT label_de AS subj, label_en, wikidata_id, dbpedia_uri, url_de, url_en,
       infobox_type, status,
       count(*) AS n_mentions, count(DISTINCT url) AS n_docs,
       min(entity_id) AS node_id, min(type) AS type
FROM entities
GROUP BY label_de, label_en, wikidata_id, dbpedia_uri, url_de, url_en,
         infobox_type, status""")

ORACLE["q14_types_distribution"] = _full_chain("""
SELECT type, count(*) AS cnt FROM entities GROUP BY type ORDER BY cnt DESC, type""")

ORACLE["q60_top10_categories"] = _full_chain("""
SELECT item, count(*) AS cnt
FROM (SELECT unnest(categories) AS item FROM entities) t
GROUP BY item ORDER BY cnt DESC, item LIMIT 10""")

ORACLE["q16_top10_all"] = _full_chain("""
SELECT stat_key, item, cnt, rnk FROM (
  SELECT stat_key, item, count(*) AS cnt,
         CAST(row_number() OVER (PARTITION BY stat_key
                                 ORDER BY count(*) DESC, item) AS INTEGER) AS rnk
  FROM (
    SELECT 'wikipedia_categories' AS stat_key, unnest(categories) AS item FROM entities
    UNION ALL SELECT 'wikipedia_internal_links', unnest(internal_links) FROM entities
    UNION ALL SELECT 'wikidata_instance_of', unnest(instance_of) FROM entities
    UNION ALL SELECT 'wikidata_type', unnest(list_slice(instance_of, 1, 1)) FROM entities
    UNION ALL SELECT 'wikidata_subclass_of', unnest(subclass_of) FROM entities
    UNION ALL SELECT 'wikidata_part_of', unnest(part_of) FROM entities
    UNION ALL SELECT 'wikidata_has_part', unnest(has_part) FROM entities
    UNION ALL SELECT 'predicates', pred FROM (
      SELECT 'instance_of' AS pred FROM entities
      UNION ALL SELECT 'same_as' FROM entities WHERE wikidata_id <> ''
      UNION ALL SELECT 'same_as' FROM entities WHERE dbpedia_uri <> ''
      UNION ALL SELECT 'has_category' FROM (SELECT unnest(categories) FROM entities) c1
      UNION ALL SELECT 'links_to' FROM (SELECT unnest(internal_links) FROM entities) c2
      UNION ALL SELECT 'part_of' FROM (SELECT unnest(part_of) FROM entities) c3
      UNION ALL SELECT 'has_part' FROM (SELECT unnest(has_part) FROM entities) c4
      UNION ALL SELECT 'located_at' FROM entities
                 WHERE geo_lat IS NOT NULL AND geo_lon IS NOT NULL) p
  ) u GROUP BY stat_key, item) r
WHERE rnk <= 10""")

ORACLE["q17_linked_stats"] = _full_chain("""
SELECT count(*) AS total_entities,
       CAST(sum(CASE WHEN url_de <> '' OR url_en <> '' THEN 1 ELSE 0 END) AS BIGINT) AS linked_wikipedia,
       CAST(sum(CASE WHEN wikidata_id <> '' THEN 1 ELSE 0 END) AS BIGINT) AS linked_wikidata,
       round(sum(CASE WHEN url_de <> '' OR url_en <> '' THEN 1 ELSE 0 END) * 100.0
             / count(*), 4) AS wikipedia_percent,
       round(sum(CASE WHEN wikidata_id <> '' THEN 1 ELSE 0 END) * 100.0
             / count(*), 4) AS wikidata_percent
FROM entities""")

ORACLE["q18_extraction_stats"] = _full_chain("""
SELECT url, count(*) AS entities_extracted,
       CAST(sum(CASE WHEN wiki_status IN ('found', 'found_from_prompt') THEN 1 ELSE 0 END)
         AS BIGINT) AS wikipedia_pages_fetched,
       CAST(sum(CASE WHEN status = 'linked' THEN 1 ELSE 0 END) AS BIGINT) AS entities_linked
FROM entities GROUP BY url""")

# ---------------------------------------------------------------------------
# training-data pipeline operators
# ---------------------------------------------------------------------------

# deterministic dedup corpus: documents + exact + near duplicates (mirrors
# queries._dedup_corpus)
_DD = """
dd AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' zusatz anhang' FROM documents WHERE doc_id % 7 = 0),
ddn AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
        FROM dd)
"""

def _lsh_chain(src: str, p: str = "") -> str:
    """MinHash-LSH CTE chain (shingles → base hash → universal-hash
    signatures → capped bands → candidate pairs) over relation `src`, cte
    names prefixed with `p` so the chain can appear twice in one statement
    (q24 over dd, q56 over the curated survivors).  Mirrors
    dedup.minhash_signatures: one md5 per shingle, h_i = (A_i·bh + B_i)
    mod P in exact BIGINT arithmetic."""
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P, N_HASHES
    a_arr = "[" + ", ".join(str(a) for a in MINHASH_A) + "]"
    b_arr = "[" + ", ".join(str(b) for b in MINHASH_B) + "]"
    return f"""
{p}dws AS (SELECT doc_id, string_split(text, ' ') AS ws, len(string_split(text, ' ')) AS n
        FROM {src}),
{p}sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
       FROM {p}dws, unnest(range(1, n - 1)) t(i) WHERE n >= 3),
{p}shb AS (SELECT doc_id, shingle,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS bh
        FROM {p}sh),
{p}sig AS (SELECT doc_id, CAST(h.i AS INTEGER) AS sig_idx,
               min((({a_arr})[h.i + 1] * bh + ({b_arr})[h.i + 1]) % {MINHASH_P}) AS minhash
        FROM {p}shb, unnest(range(0, {N_HASHES})) h(i)
        GROUP BY doc_id, h.i),
{p}bands0 AS (SELECT doc_id, CAST(sig_idx // 2 AS INTEGER) AS band_id,
                  md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash)) AS band_key
           FROM {p}sig GROUP BY doc_id, sig_idx // 2),
{p}bands AS (SELECT doc_id, band_id, band_key FROM {p}bands0
          QUALIFY row_number() OVER (PARTITION BY band_id, band_key
                                     ORDER BY doc_id) <= 64),
{p}lsh_pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
              FROM {p}bands l JOIN {p}bands r
                ON l.band_id = r.band_id AND l.band_key = r.band_key
               AND l.doc_id < r.doc_id)
"""


_SHINGLE = _lsh_chain("dd")


def _dd_with(*chains: str, final: str) -> str:
    parts = [c.strip().strip(",") for c in chains if c.strip()]
    return "WITH " + ",\n".join(parts) + "\n" + final


ORACLE["q20_dedup_exact"] = _dd_with(_DD, final="""
SELECT fp, n_dups, keep_id FROM (
  SELECT md5(norm) AS fp, count(*) AS n_dups, min(doc_id) AS keep_id
  FROM ddn GROUP BY md5(norm)) g
WHERE n_dups > 1""")

ORACLE["q21_fingerprint"] = _dd_with(_DD, final="""
SELECT DISTINCT doc_id, fp FROM (
  SELECT doc_id, i, n_grams,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM (
    SELECT doc_id, n_grams, u.i,
           ('0x' || substr(md5(norm[u.i : u.i + 7]), 1, 8))::BIGINT AS h
    FROM (SELECT doc_id, norm, length(norm) - 7 AS n_grams FROM ddn) t,
         unnest(range(1, greatest(n_grams, 0) + 1)) u(i)
    WHERE n_grams >= 4) g) w
WHERE i <= n_grams - 3""")

ORACLE["q22_minhash_sig"] = _dd_with(_DD, _SHINGLE, final="""
SELECT doc_id, sig_idx, minhash FROM sig""")

ORACLE["q23_lsh_pairs"] = _dd_with(_DD, _SHINGLE, final="""
SELECT a, b FROM lsh_pairs""")

ORACLE["q24_jaccard_pairs"] = _dd_with(_DD, _SHINGLE, final="""
SELECT i.a, i.b,
       round(i.inter * 1.0 / (na.n + nb.n - i.inter), 4) AS jaccard
FROM (SELECT p.a, p.b, count(*) AS inter
      FROM lsh_pairs p
      JOIN (SELECT DISTINCT doc_id, shingle FROM sh) sa ON sa.doc_id = p.a
      JOIN (SELECT DISTINCT doc_id, shingle FROM sh) sb
        ON sb.doc_id = p.b AND sa.shingle = sb.shingle
      GROUP BY p.a, p.b) i
JOIN (SELECT doc_id, count(DISTINCT shingle) AS n FROM sh GROUP BY doc_id) na
  ON na.doc_id = i.a
JOIN (SELECT doc_id, count(DISTINCT shingle) AS n FROM sh GROUP BY doc_id) nb
  ON nb.doc_id = i.b
WHERE round(i.inter * 1.0 / (na.n + nb.n - i.inter), 4) >= 0.5""")

_DE_SW = "('der','die','das','und','ist','ein','nicht','mit','von','zu')"
_EN_SW = "('the','and','is','of','a','to','in','that','it','for')"
_ALL_SW = ("('der','die','das','und','ist','ein','nicht','mit','von','zu',"
           "'the','and','is','of','a','to','in','that','it','for')")

ORACLE["q25_language_id"] = f"""
SELECT doc_id,
  CAST(len(list_filter(string_split(lower(text), ' '), w -> w IN {_DE_SW})) AS INTEGER) AS de_hits,
  CAST(len(list_filter(string_split(lower(text), ' '), w -> w IN {_EN_SW})) AS INTEGER) AS en_hits,
  CASE WHEN len(list_filter(string_split(lower(text), ' '), w -> w IN {_DE_SW}))
          > len(list_filter(string_split(lower(text), ' '), w -> w IN {_EN_SW})) THEN 'de'
       WHEN len(list_filter(string_split(lower(text), ' '), w -> w IN {_EN_SW}))
          > len(list_filter(string_split(lower(text), ' '), w -> w IN {_DE_SW})) THEN 'en'
       ELSE 'und' END AS pred_lang
FROM documents"""

ORACLE["q26_quality_score"] = f"""
SELECT doc_id,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
  round(length(text) * 1.0 / greatest(len(string_split(text, ' ')), 1), 4) AS avg_token_len,
  round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0
        / greatest(length(text), 1), 4) AS punct_ratio,
  round(len(list_filter(string_split(lower(text), ' '), w -> w IN {_ALL_SW})) * 1.0
        / greatest(len(string_split(text, ' ')), 1), 4) AS stopword_ratio,
  (len(string_split(text, ' ')) >= 10 AND length(text) >= 50) AS keep
FROM documents"""

def _q27_sql() -> str:
    from ..operators.textstats import BPE_SPLIT_RE
    bpe = BPE_SPLIT_RE.replace("'", "''")  # SQL string-literal quote escape
    return f"""
SELECT doc_id,
  CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INTEGER) AS alnum_tokens,
  CAST(len(regexp_extract_all(text, '{bpe}')) AS INTEGER) AS bpeish_tokens
FROM documents"""


ORACLE["q27_token_counts"] = _q27_sql()


def _qvec_cte() -> str:
    from ..operators.similarity import query_vector
    import math
    q = query_vector()
    qn = math.sqrt(sum(x * x for x in q))
    rows = ", ".join(f"({i}, {v!r})" for i, v in enumerate(q))
    return f"q(i, qv) AS (VALUES {rows})", repr(qn)


_QCTE, _QNORM = _qvec_cte()

ORACLE["q28_ann_topk"] = f"""
WITH {_QCTE},
ex AS (SELECT vec_id, unnest(embedding) AS e, generate_subscripts(embedding, 1) AS s
       FROM embeddings),
dots AS (SELECT vec_id,
                sum(CAST(e AS DOUBLE) * q.qv) AS dot,
                sum(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)) AS nrm
         FROM ex JOIN q ON ex.s = q.i + 1 GROUP BY vec_id)
SELECT vec_id, round(dot / (sqrt(nrm) * {_QNORM}), 3) AS cosine
FROM dots ORDER BY dot / (sqrt(nrm) * {_QNORM}) DESC, vec_id LIMIT 10"""


def _planes_cte() -> str:
    from ..operators.similarity import N_PLANES, hyperplane
    rows = []
    for j in range(N_PLANES):
        for i, v in enumerate(hyperplane(j)):
            rows.append(f"({j}, {i}, {v!r})")
    return "planes(j, i, v) AS (VALUES " + ", ".join(rows) + ")"


_BUCKET_CTES = f"""
{_planes_cte()},
ex AS (SELECT vec_id, unnest(embedding) AS e, generate_subscripts(embedding, 1) AS s
       FROM embeddings),
bits AS (SELECT vec_id, p.j,
                CASE WHEN round(sum(CAST(e AS DOUBLE) * p.v), 6) >= 0
                     THEN '1' ELSE '0' END AS bit
         FROM ex JOIN planes p ON ex.s = p.i + 1 GROUP BY vec_id, p.j),
buckets AS (SELECT vec_id, string_agg(bit, '' ORDER BY j) AS bucket
            FROM bits GROUP BY vec_id)
"""

ORACLE["q29_ann_lsh_buckets"] = f"WITH {_BUCKET_CTES.strip()}\nSELECT vec_id, bucket FROM buckets"

def _neardup_planes_cte() -> str:
    from ..operators.similarity import (NEARDUP_BITS, NEARDUP_TABLES,
                                        neardup_plane)
    rows = []
    for t in range(NEARDUP_TABLES):
        for b in range(NEARDUP_BITS):
            for i, v in enumerate(neardup_plane(t, b)):
                rows.append(f"({t}, {b}, {i}, {v!r})")
    return "nplanes(t, j, i, v) AS (VALUES " + ", ".join(rows) + ")"


# multi-table capped LSH near-dups (mirrors similarity.neardup_candidate_pairs
# + embedding_near_dups stage by stage)
ORACLE["q30_embed_near_dups"] = f"""
WITH {_neardup_planes_cte()},
ex AS (SELECT vec_id, unnest(embedding) AS e, generate_subscripts(embedding, 1) AS s
       FROM embeddings),
nbits AS (SELECT vec_id, p.t, p.j,
                 CASE WHEN round(sum(CAST(e AS DOUBLE) * p.v), 6) >= 0
                      THEN '1' ELSE '0' END AS bit
          FROM ex JOIN nplanes p ON ex.s = p.i + 1 GROUP BY vec_id, p.t, p.j),
nb0 AS (SELECT vec_id, t, string_agg(bit, '' ORDER BY j) AS bucket
        FROM nbits GROUP BY vec_id, t),
nbuckets AS (SELECT vec_id, t, bucket FROM nb0
             QUALIFY row_number() OVER (PARTITION BY t, bucket
                                        ORDER BY vec_id) <= 64),
norms AS (SELECT vec_id, sum(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)) AS nrm
          FROM ex GROUP BY vec_id),
pairs AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
          FROM nbuckets l JOIN nbuckets r
            ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
pd AS (SELECT p.a, p.b, sum(CAST(ea.e AS DOUBLE) * CAST(eb.e AS DOUBLE)) AS dot
       FROM pairs p
       JOIN ex ea ON ea.vec_id = p.a
       JOIN ex eb ON eb.vec_id = p.b AND ea.s = eb.s
       GROUP BY p.a, p.b)
SELECT pd.a, pd.b, round(pd.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 3) AS cosine
FROM pd JOIN norms na ON na.vec_id = pd.a JOIN norms nb ON nb.vec_id = pd.b
WHERE round(pd.dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 3) >= 0.2"""

ORACLE["q31_events_hourly"] = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS cnt, round(sum(value), 4) AS sum_value
FROM events GROUP BY date_trunc('hour', ts), event_type"""

ORACLE["q32_sessionize"] = """
WITH lagged AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
flagged AS (
  SELECT user_id, event_id, ts,
         sum(CASE WHEN prev_ts IS NULL
                    OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_no
  FROM lagged)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no, count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
FROM flagged GROUP BY user_id, session_no"""

ORACLE["q61_split_text_char"] = """
SELECT doc_id, CAST(i // 150 AS INTEGER) AS chunk_idx,
       trim(regexp_replace(substr(text, CAST(i AS INTEGER) + 1, 200), '\\s+', ' ', 'g')) AS chunk
FROM documents, unnest(range(0, greatest(length(text), 1), 150)) t(i)"""


def _q38_sql(chunk: int = 120, overlap: int = 30) -> str:
    """The greedy sentence-packing chunker (refsem.split_text sentence mode,
    ref utils.py:142-205 packing loop) as a DuckDB RECURSIVE CTE: the packing
    loop is a linear recurrence over sentences, so the recursive step carries
    (cur, cur_sents) per document and emits a chunk whenever the next
    sentence does not fit.

    Two emulations vs the Python source:
      * RE2 has no lookbehind, so the '(?<=[.!?]) +' sentence split becomes
        sentinel-replace (punct + spaces -> punct + chr(1)) then split.
      * the break-at-first-failure overlap carry is closed-form: carry_len of
        the suffix [m..n] equals suffix_total(m) = sum(len)+(n-m), monotone
        decreasing in m, so the carried suffix starts at the smallest m with
        suffix_total(m) <= overlap, gated on the last sentence fitting
        (len+1 <= overlap).  The reference's `p in carry` SUBSTRING quirk for
        the surviving cur_sents is mirrored with contains().
    """
    return rf"""
WITH RECURSIVE
sarr AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '([.!?]) +', '\1' || chr(1), 'g'),
                      chr(1)) AS arr
  FROM documents),
sents AS (
  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY u.i) AS idx, u.s
  FROM (SELECT doc_id, trim(unnest(arr)) AS s, generate_subscripts(arr, 1) AS i
        FROM sarr) u
  WHERE u.s <> ''),
step AS (
  SELECT doc_id, 0 AS i, '' AS cur, CAST([] AS VARCHAR[]) AS cur_sents,
         CAST(NULL AS VARCHAR) AS emit
  FROM (SELECT DISTINCT doc_id FROM sents)
  UNION ALL
  SELECT st.doc_id, st.i + 1,
         CASE WHEN h.fits THEN (CASE WHEN st.cur = '' THEN sn.s
                                     ELSE st.cur || ' ' || sn.s END)
              WHEN h.carry <> '' THEN h.carry || ' ' || sn.s
              ELSE sn.s END,
         CASE WHEN h.fits THEN list_append(st.cur_sents, sn.s)
              WHEN h.carry <> ''
                THEN list_filter(st.cur_sents, p -> contains(h.carry, p)) || [sn.s]
              ELSE [sn.s] END,
         CASE WHEN NOT h.fits AND st.cur <> ''
              THEN trim(regexp_replace(st.cur, '\s+', ' ', 'g')) END
  FROM step st
  JOIN sents sn ON sn.doc_id = st.doc_id AND sn.idx = st.i + 1
  CROSS JOIN LATERAL (
    SELECT fits, n,
      CASE WHEN NOT fits AND n > 0 AND length(st.cur_sents[n]) + 1 <= {overlap}
           THEN array_to_string(list_slice(st.cur_sents, cs, n), ' ')
           ELSE '' END AS carry
    FROM (
      SELECT (length(st.cur) + length(sn.s) + 1 <= {chunk}) AS fits,
             len(st.cur_sents) AS n,
             coalesce(len(st.cur_sents) + 1 - len(list_filter(
               list_transform(st.cur_sents, (x, m) ->
                 CASE WHEN m = len(st.cur_sents) THEN length(x) + 1
                      ELSE list_sum(list_transform(
                             list_slice(st.cur_sents, m, len(st.cur_sents)),
                             y -> length(y))) + len(st.cur_sents) - m END),
               t -> t <= {overlap})), 1) AS cs
    )) h),
emits AS (
  SELECT doc_id, i, emit FROM step WHERE emit IS NOT NULL
  UNION ALL
  SELECT s1.doc_id, s1.i + 1, trim(regexp_replace(s1.cur, '\s+', ' ', 'g'))
  FROM (SELECT * FROM step
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY i DESC) = 1) s1
  WHERE s1.cur <> '')
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INTEGER)
         AS chunk_idx,
       emit AS chunk
FROM emits"""


ORACLE["q38_split_sentences"] = _q38_sql()


def _levels_cte() -> str:
    from ..refsem import DEFAULT_LEVELS
    rows = ", ".join(f"({i}, '{lvl}')" for i, lvl in enumerate(DEFAULT_LEVELS))
    return f"levels(level_idx, level) AS (VALUES {rows})"


ORACLE["q34_qa_distribution"] = f"""
WITH {_levels_cte()}
SELECT d.doc_id, l.level,
       CAST((1 + d.doc_id % 12) // 8
            + CASE WHEN l.level_idx < (1 + d.doc_id % 12) % 8 THEN 1 ELSE 0 END
            AS INTEGER) AS pairs_for_level
FROM documents d CROSS JOIN levels l"""

ORACLE["q62_topic_extract"] = """
SELECT doc_id,
  CASE WHEN length(trim(string_split(text, '.')[1])) > 10
       THEN trim(string_split(text, '.')[1])
       WHEN length(text) > 100 THEN trim(substr(text, 1, 100))
       ELSE trim(text) END AS topic
FROM documents"""

ORACLE["q36_compendium_refs"] = _full_chain("""
SELECT url, CAST(row_number() OVER (PARTITION BY url ORDER BY mention_idx) AS INTEGER)
         AS ref_idx, ref
FROM (
  SELECT url, mention_idx, ref FROM (
    SELECT url, mention_idx,
           CASE WHEN url_de <> '' THEN url_de ELSE url_en END AS ref
    FROM entities) r0
  WHERE ref <> ''
  QUALIFY row_number() OVER (PARTITION BY url, ref ORDER BY mention_idx) = 1) r1""")

ORACLE["q39_qa_parse"] = """
WITH content AS (
  SELECT doc_id,
         'Was ist X?;' || substr(text, 1, 50) || chr(10) ||
         '2. Wie geht es?;' || substr(text, 51, 80) AS c
  FROM documents),
lines AS (SELECT doc_id, unnest(string_split(c, chr(10))) AS line FROM content),
parsed AS (
  SELECT doc_id,
         trim(string_split(line, ';')[1]) AS q0,
         trim(string_split(line, ';')[2]) AS a0
  FROM lines)
SELECT doc_id,
       regexp_replace(regexp_replace(q0, '^\\d+[.)\\s]+', ''),
                      '^[a-zA-Z][.)\\s]+', '') AS question,
       CASE WHEN length(a0) > 20 THEN substr(a0, 1, 17) || '...' ELSE a0 END AS answer
FROM parsed
WHERE regexp_replace(regexp_replace(q0, '^\\d+[.)\\s]+', ''),
                     '^[a-zA-Z][.)\\s]+', '') <> ''
  AND (CASE WHEN length(a0) > 20 THEN substr(a0, 1, 17) || '...' ELSE a0 END) <> ''"""

ORACLE["q63_category_strip"] = """
SELECT doc_id,
       array_to_string(list_transform(
         ['Category:' || source, 'Kategorie:' || lang, source],
         c -> regexp_replace(c, '^(Category|Kategorie):', '')), '|') AS categories_str
FROM documents"""

ORACLE["q43_json_props"] = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k,
       CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_mod10
FROM events"""

def _kb_build_sql() -> str:
    """KB-build oracle: raw payloads → filter → merge projection → langlinks
    self-join (mirrors operators.kb_build stage by stage)."""
    return ("WITH " + fixtures.raw_pages_cte() + """,
built0 AS (
  SELECT trim(title) AS title, lang,
         nullif(trim(coalesce(extract, '')), '') AS abstract,
         wikibase_item AS wikidata_id,
         list_transform(categories_raw,
           c -> replace(replace(c, 'Category:', ''), 'Kategorie:', '')) AS categories,
         links_raw AS internal_links, infobox AS infobox_type,
         coord_lat AS geo_lat, coord_lon AS geo_lon,
         thumbnail_source AS thumbnail_url,
         instance_of, subclass_of, part_of, has_part,
         langlink_lang, langlink_title
  FROM raw_pages
  WHERE page_id >= 0 AND title IS NOT NULL AND trim(title) <> ''),
built AS (
  SELECT b.*, p.title AS title_other, p.abstract AS abstract_other
  FROM built0 b LEFT JOIN built0 p
    ON b.langlink_title = p.title AND b.langlink_lang = p.lang)
SELECT title, lang, coalesce(title_other, '') AS title_other,
       coalesce(abstract, '') AS abstract,
       coalesce(wikidata_id, '') AS wikidata_id,
       coalesce(array_to_string(categories, '|'), '') AS categories_str,
       coalesce(array_to_string(internal_links, '|'), '') AS links_str,
       coalesce(infobox_type, '') AS infobox_type,
       CAST(geo_lat AS VARCHAR) AS geo_lat_str,
       CAST(geo_lon AS VARCHAR) AS geo_lon_str,
       coalesce(thumbnail_url, '') AS thumbnail_url,
       coalesce(array_to_string(instance_of, '|'), '') AS instance_str,
       coalesce(array_to_string(subclass_of, '|'), '') AS subclass_str,
       coalesce(array_to_string(part_of, '|'), '') AS part_of_str,
       coalesce(array_to_string(has_part, '|'), '') AS has_part_str,
       coalesce(abstract_other, '') AS abstract_other
FROM built""")


ORACLE["q44_kb_build"] = _kb_build_sql()

# simhash CTE shared by q46 (the fingerprint itself) and q57 (Hamming-band
# near-dup pairs)
_SIMHASH_CTE = """
sims AS (
  SELECT doc_id,
         string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b DESC) AS simhash
  FROM (
    SELECT doc_id, b.i AS b,
           sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM (SELECT doc_id,
                 ('0x' || substr(md5(unnest(string_split(lower(text), ' '))), 1, 8))::BIGINT AS h
          FROM dd) wh,
         unnest(range(0, 32)) b(i)
    GROUP BY doc_id, b.i) votes
  GROUP BY doc_id)
"""

ORACLE["q46_simhash"] = _dd_with(_DD, _SIMHASH_CTE, final="""
SELECT doc_id, simhash FROM sims""")

# Hamming-band near-dups: 4×8-bit band buckets (capped) -> candidate pairs
# -> exact per-position Hamming verify (mirrors dedup.simhash_near_dups)
ORACLE["q42_simhash_near_dups"] = _dd_with(_DD, _SIMHASH_CTE, """
sbands0 AS (SELECT doc_id, CAST(b.i AS INTEGER) AS band_id,
                   substr(simhash, CAST(1 + 8 * b.i AS INTEGER), 8) AS band_key
            FROM sims, unnest(range(0, 4)) b(i)),
sbands AS (SELECT doc_id, band_id, band_key FROM sbands0
           QUALIFY row_number() OVER (PARTITION BY band_id, band_key
                                      ORDER BY doc_id) <= 64),
spairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
           FROM sbands l JOIN sbands r
             ON l.band_id = r.band_id AND l.band_key = r.band_key
            AND l.doc_id < r.doc_id)
""", final="""
SELECT a, b, hamming FROM (
  SELECT p.a, p.b,
         len(list_filter(range(1, 33),
             i -> substr(sa.simhash, CAST(i AS INTEGER), 1)
               <> substr(sb.simhash, CAST(i AS INTEGER), 1))) AS hamming
  FROM spairs p
  JOIN sims sa ON sa.doc_id = p.a
  JOIN sims sb ON sb.doc_id = p.b) t
WHERE hamming <= 3""")

ORACLE["q47_compendium"] = _full_chain("""
SELECT t.url,
       '# ' || t.topic || chr(10) || chr(10) ||
       coalesce(c.context, '*Keine Quellen verfügbar.*') || chr(10) || chr(10) ||
       '## Literaturverzeichnis' || chr(10) || chr(10) ||
       coalesce(b.bib, '*Keine Referenzen verfügbar.*') AS markdown
FROM (SELECT url,
             CASE WHEN length(trim(string_split(body_text, '.')[1])) > 10
                  THEN trim(string_split(body_text, '.')[1])
                  ELSE trim(substr(body_text, 1, 100)) END AS topic
      FROM docs) t
LEFT JOIN (SELECT url, string_agg('**' || label || '**: ' || extract,
                                  chr(10) || chr(10) ORDER BY mention_idx) AS context
           FROM entities WHERE extract <> '' GROUP BY url) c ON t.url = c.url
LEFT JOIN (SELECT url, string_agg(CAST(ref_idx AS VARCHAR) || '. ' || ref,
                                  chr(10) ORDER BY ref_idx) AS bib
           FROM (SELECT url,
                        row_number() OVER (PARTITION BY url ORDER BY mention_idx) AS ref_idx,
                        ref
                 FROM (SELECT url, mention_idx,
                              CASE WHEN url_de <> '' THEN url_de ELSE url_en END AS ref
                       FROM entities) r0
                 WHERE ref <> ''
                 QUALIFY row_number() OVER (PARTITION BY url, ref ORDER BY mention_idx) = 1) r1
           GROUP BY url) b ON t.url = b.url""")


def _levels_array() -> str:
    from ..refsem import DEFAULT_LEVELS
    return "[" + ", ".join(f"'{lv}'" for lv in DEFAULT_LEVELS) + "]"


ORACLE["q48_qa_pairs"] = _full_chain(f"""
SELECT url,
       'Was ist ' || label || '?' AS question,
       CASE WHEN length(extract) > 200 THEN substr(extract, 1, 197) || '...'
            ELSE extract END AS answer,
       'Bildungsstufe' AS level_property,
       ({_levels_array()})[(mention_idx - 1) % 8 + 1] AS level_value
FROM entities WHERE extract <> ''""")

ORACLE["q37_entity_context"] = _full_chain("""
SELECT url, string_agg('**' || label || '**: ' || extract, chr(10) || chr(10)
                       ORDER BY mention_idx) AS context
FROM entities WHERE extract <> '' GROUP BY url""")

_IVF_CTES = """
ex AS (SELECT vec_id, unnest(embedding) AS e, generate_subscripts(embedding, 1) AS s
       FROM embeddings),
cex AS (SELECT vec_id AS centroid_id, unnest(embedding) AS ce,
               generate_subscripts(embedding, 1) AS cs
        FROM embeddings WHERE vec_id < 16),
cdots AS (SELECT ex.vec_id, cex.centroid_id,
                 sum(CAST(ex.e AS DOUBLE) * CAST(cex.ce AS DOUBLE)) AS dot
          FROM ex JOIN cex ON ex.s = cex.cs
          GROUP BY ex.vec_id, cex.centroid_id),
assign AS (SELECT vec_id, centroid_id, dot FROM cdots
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, centroid_id) = 1)
"""

ORACLE["q49_ivf_assign"] = ("WITH " + _IVF_CTES.strip() + """
SELECT vec_id, centroid_id, round(dot, 3) AS centroid_dot FROM assign""")

ORACLE["q50_ivf_topk"] = (f"WITH {_QCTE},\n" + _IVF_CTES.strip() + f""",
best_c AS (SELECT centroid_id FROM (
  SELECT cex.centroid_id, sum(CAST(cex.ce AS DOUBLE) * q.qv) AS qd
  FROM cex JOIN q ON cex.cs = q.i + 1 GROUP BY cex.centroid_id)
  ORDER BY qd DESC, centroid_id LIMIT 1),
scored AS (SELECT a.vec_id,
                  sum(CAST(ex.e AS DOUBLE) * q.qv) AS dot,
                  sum(CAST(ex.e AS DOUBLE) * CAST(ex.e AS DOUBLE)) AS nrm
           FROM assign a
           JOIN best_c b ON a.centroid_id = b.centroid_id
           JOIN ex ON ex.vec_id = a.vec_id
           JOIN q ON ex.s = q.i + 1
           GROUP BY a.vec_id)
SELECT vec_id, round(dot / (sqrt(nrm) * {_QNORM}), 3) AS cosine
FROM scored ORDER BY dot / (sqrt(nrm) * {_QNORM}) DESC, vec_id LIMIT 10""")

# k-means with 2 fixed iterations, unrolled (mirrors similarity.kmeans_assign)
ORACLE["q51_kmeans"] = """
WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                   generate_subscripts(embedding, 1) AS s
            FROM embeddings),
c0 AS (SELECT vec_id AS cluster, e AS val, s FROM ex WHERE vec_id < 8),
a1 AS (SELECT vec_id, cluster FROM (
         SELECT ex.vec_id, c0.cluster,
                sum((ex.e - c0.val) * (ex.e - c0.val)) AS d2
         FROM ex JOIN c0 ON ex.s = c0.s GROUP BY ex.vec_id, c0.cluster) t
       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) = 1),
c1 AS (SELECT a1.cluster, ex.s, avg(ex.e) AS val
       FROM a1 JOIN ex ON ex.vec_id = a1.vec_id GROUP BY a1.cluster, ex.s),
a2 AS (SELECT vec_id, cluster FROM (
         SELECT ex.vec_id, c1.cluster,
                sum((ex.e - c1.val) * (ex.e - c1.val)) AS d2
         FROM ex JOIN c1 ON ex.s = c1.s GROUP BY ex.vec_id, c1.cluster) t
       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) = 1)
SELECT vec_id, cluster FROM a2"""

# Connected components via transitive closure (recursive CTE): an
# independent computation of the (node, comp = min member) partition that
# operators.canonicalize solves.
_CC_FINAL = """
SELECT n AS node, min(m) AS comp, sha256(min(m)) AS canonical_id
FROM reach GROUP BY n"""

# ---------------------------------------------------------------------------
# multimodal (q40/q41): the synthetic payload generator is deterministic in
# media_id (multimodal.synth_media: header w/h/frames + 64 bytes of i%251),
# so the oracle derives the DECODED features independently from the
# generator formulas — validating the binary encode → mapInPandas decode
# plumbing end-to-end.  The NotImplementedError seam for real codecs is
# unchanged; only the deterministic stub path is oracle-compared.
# ---------------------------------------------------------------------------

ORACLE["q40_media_features"] = """
SELECT CAST(i AS BIGINT) AS media_id,
       (['image', 'audio', 'video'])[i % 3 + 1] AS kind,
       CAST(16 + (i % 8) * 16 AS INTEGER) AS width,
       CAST(16 + (i % 5) * 16 AS INTEGER) AS height,
       CAST(1 + (i % 4) AS INTEGER) AS n_frames,
       CAST(80 AS INTEGER) AS n_bytes,
       round(CAST(i % 251 AS DOUBLE), 4) AS byte_mean
FROM range(0, 256) t(i)"""

# media embedding: integer re-derivation of the stub-encoder formula —
# bm = i % 251 (body is 64 copies of that byte), w/h/fr from the generator;
# v10[j] = (bm*(j+3) + w*(j+1) + h*(fr+1)) % 19 - 9 is pure integer math,
# so the ×10-decoded Spark output (float32 → round(e*10)) matches exactly.
ORACLE["q64_media_embed"] = """
SELECT CAST(i AS BIGINT) AS media_id,
       (['image', 'audio', 'video'])[i % 3 + 1] AS kind,
       array_to_string(list_transform(range(0, 15), j ->
         CAST(((i % 251) * (j + 3) + (16 + (i % 8) * 16) * (j + 1)
               + (16 + (i % 5) * 16) * (1 + (i % 4) + 1)) % 19 - 9 AS VARCHAR))
         || ['10'], '|') AS emb10
FROM range(0, 256) t(i)"""

ORACLE["q41_frame_sample"] = """
SELECT CAST(i AS BIGINT) AS media_id,
       CAST(f.f AS INTEGER) AS frame_id,
       CAST(80 AS INTEGER) AS n_bytes
FROM range(0, 256) t(i), unnest(range(0, 1 + (i % 4), 2)) f(f)
WHERE i % 3 = 2"""

# ---------------------------------------------------------------------------
# enrichment + envelope + curation (q52-q56)
# ---------------------------------------------------------------------------


def _probes_arr(vals: list[str]) -> str:
    return "[" + ", ".join(f"'{v}'" for v in vals) + "]"


def _q52_sql() -> str:
    from ..refsem import DEFAULT_LEVELS
    from .queries import LEVEL_PROBES
    n = len(LEVEL_PROBES)
    return f"""
WITH {_levels_cte()},
dp AS (SELECT doc_id, ({_probes_arr(LEVEL_PROBES)})[CAST(doc_id % {n} AS INTEGER) + 1]
              AS provided
       FROM documents),
m AS (SELECT doc_id, level, level_idx,
             CASE WHEN lower(level) = lower(provided) THEN 0
                  WHEN strpos(lower(level), lower(provided)) > 0
                    OR strpos(lower(provided), lower(level)) > 0 THEN 1
             END AS mt
      FROM dp CROSS JOIN levels),
best AS (SELECT doc_id, level FROM m WHERE mt IS NOT NULL
         QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY mt, level_idx) = 1)
SELECT dp.doc_id, dp.provided,
       coalesce(b.level, '{DEFAULT_LEVELS[0]}') AS matched_level
FROM dp LEFT JOIN best b ON dp.doc_id = b.doc_id"""


ORACLE["q13_closest_level"] = _q52_sql()


def _q53_sql() -> str:
    from ..functions.generation import SIMPLE_SYNONYMS
    from .queries import SYNONYM_PROBES
    rows = ", ".join(f"('{w}', {i + 1}, '{s}')"
                     for w, syns in SIMPLE_SYNONYMS.items()
                     for i, s in enumerate(syns[:5]))
    n = len(SYNONYM_PROBES)
    return f"""
WITH syn(word, syn_idx, synonym) AS (VALUES {rows}),
w AS (SELECT doc_id, ({_probes_arr(SYNONYM_PROBES)})[CAST(doc_id % {n} AS INTEGER) + 1]
             AS probe_word
      FROM documents)
SELECT w.doc_id, w.probe_word, s.syn_idx, s.synonym
FROM w JOIN syn s ON w.probe_word = s.word"""


ORACLE["q53_synonyms"] = _q53_sql()

ORACLE["q54_translate"] = """
SELECT doc_id,
       CASE WHEN lang = 'de' THEN 'en' ELSE 'de' END AS target_lang,
       '[' || CASE WHEN lang = 'de' THEN 'en' ELSE 'de' END
           || ' translation of]: ' || substr(text, 1, 80) AS translated
FROM documents"""

ORACLE["q15_stats_envelope"] = _full_chain(f"""
SELECT
  (SELECT count(*) FROM entities) AS total_entities,
  (SELECT count(*) FROM ({_TRIPLES_BODY}) t) AS total_relationships,
  (SELECT count(*) FROM entities WHERE extract <> '') AS qa_pairs,
  (SELECT CAST(sum(CASE WHEN url_de <> '' OR url_en <> '' THEN 1 ELSE 0 END) AS BIGINT)
   FROM entities) AS linked_wikipedia,
  (SELECT CAST(sum(CASE WHEN wikidata_id <> '' THEN 1 ELSE 0 END) AS BIGINT)
   FROM entities) AS linked_wikidata,
  (SELECT round(sum(CASE WHEN url_de <> '' OR url_en <> '' THEN 1 ELSE 0 END) * 100.0
                / count(*), 4) FROM entities) AS wikipedia_percent,
  (SELECT round(sum(CASE WHEN wikidata_id <> '' THEN 1 ELSE 0 END) * 100.0
                / count(*), 4) FROM entities) AS wikidata_percent""")

# curation chain: quality gate -> exact dedup (keep min id per content hash)
# -> LSH+jaccard near-dup removal (drop larger id) over the survivors
ORACLE["q33_curate"] = _dd_with(_DD, final=f"""
SELECT doc_id, n_chars, n_tokens FROM (
  WITH kq AS (SELECT doc_id, text FROM dd
              WHERE len(string_split(text, ' ')) >= 10 AND length(text) >= 50),
  kn AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         FROM kq),
  ke AS (SELECT doc_id FROM kn
         QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
  k2 AS (SELECT kq.doc_id, kq.text FROM kq JOIN ke USING (doc_id)),
  {_lsh_chain('k2', 'c').strip().rstrip().rstrip(chr(10))},
  cinter AS (SELECT p.a, p.b, count(*) AS inter FROM clsh_pairs p
             JOIN (SELECT DISTINCT doc_id, shingle FROM csh) sa ON sa.doc_id = p.a
             JOIN (SELECT DISTINCT doc_id, shingle FROM csh) sb
               ON sb.doc_id = p.b AND sa.shingle = sb.shingle
             GROUP BY p.a, p.b),
  csz AS (SELECT doc_id, count(DISTINCT shingle) AS n FROM csh GROUP BY doc_id),
  cdrop AS (SELECT DISTINCT i.b AS doc_id FROM cinter i
            JOIN csz na ON na.doc_id = i.a JOIN csz nb ON nb.doc_id = i.b
            WHERE round(i.inter * 1.0 / (na.n + nb.n - i.inter), 4) >= 0.5)
  SELECT k2.doc_id, length(k2.text) AS n_chars,
         len(string_split(k2.text, ' ')) AS n_tokens
  FROM k2 ANTI JOIN cdrop ON k2.doc_id = cdrop.doc_id) t""")

ORACLE["q19_canonicalize"] = (
    "WITH RECURSIVE "
    + ",\n".join(p.strip() for p in _base_ctes())
    + ",\n" + _MENTION_CHAIN.strip().strip(",")
    + ",\n" + _PROBE_CHAIN.strip().strip(",")
    + ",\n" + _LINK_CHAIN.strip().strip(",")
    + """,
edges AS (
  SELECT label AS a, label_de AS b FROM entities WHERE label <> label_de
  UNION
  SELECT label_de, wikidata_id FROM entities WHERE wikidata_id <> ''),
und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(n, m) AS (
  SELECT a, a FROM und
  UNION
  SELECT a, b FROM und
  UNION
  SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a)
""" + _CC_FINAL)

# incremental canonicalization must equal the full recompute: same oracle
ORACLE["q45_canonicalize_incr"] = ORACLE["q19_canonicalize"]

# round-5 driver rows for the bucketed scale paths: each is value-identical
# to its broadcast/inline twin by construction (equivalence pytest-asserted)
# — what the driver verifies is that the bucketed PHYSICAL path (bucketed
# dimension join / scan-level bucket-pruned index probe) computes the same
# relation, so the oracle SQL is the twin's verbatim.
ORACLE["q35_kb_bucketed"] = ORACLE["q09_candidates"]
ORACLE["q52_ivf_index"] = ORACLE["q50_ivf_topk"]
