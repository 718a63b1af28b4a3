"""Output checks that recompute a workload's answer in DuckDB from the
generated inputs. Each returns [(name, ok, detail, failed_ops_key)];
run.py turns a failed check into wrong-output operations.
"""
import json
import math

import duckdb
import pandas as pd


def canon(df):
    """tools/check.py's canonical form: columns by name, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, (list, tuple)) or "ndarray" in str(type(v)):
            return tuple(cell(x) for x in v)
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if v is None or v is pd.NaT:
            return None
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return v
    out = df.apply(lambda s: s.map(cell))
    return out.sort_values(by=list(out.columns), key=lambda s: s.map(repr)).reset_index(drop=True)


def same_frames(mine, oracle):
    a, b = canon(mine), canon(oracle)
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    if a.equals(b):
        return True, f"{len(a)} rows equal"
    bad = int((a != b).any(axis=1).sum())
    return False, f"{bad}/{len(a)} rows differ"


def pipeline(ex):
    """Preprocessed posts and image labels, recomputed from the feed."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE feed AS SELECT * FROM read_json_auto('{ex['feed']}', format='newline_delimited')")
    root = ex["root"]
    pre = con.sql(f"""SELECT * FROM read_csv('{root}/posts_preprocessed.csv/*.csv', header=true,
                      quote='"', escape='"', all_varchar=true)""").df()
    mine = pd.DataFrame({
        "id": pre["id"].astype("int64"),
        "year": pre["year"].astype("int64"),
        "likes": pre["likes"].astype("int64"),
        "interactions": pre["interactions"].astype("int64"),
        "tags": pre["hashtags"].map(lambda s: ",".join(json.loads(s)) if s else ""),
    })
    # Preprocessor: dedup by shortcode, images only, 2012 <= year < 2020,
    # lowercased hashtags; interactions = likes + comments
    oracle = con.sql("""
        SELECT DISTINCT id, CAST(year(make_timestamp(taken_at_timestamp * 1000000)) AS BIGINT) AS year,
               CAST(likes AS BIGINT) AS likes, CAST(likes + comments AS BIGINT) AS interactions,
               array_to_string(list_transform(hashtags, h -> lower(h)), ',') AS tags
        FROM feed
        WHERE NOT is_video
          AND make_timestamp(taken_at_timestamp * 1000000) >= TIMESTAMP '2012-01-01'
          AND make_timestamp(taken_at_timestamp * 1000000) <  TIMESTAMP '2020-01-01'""").df()
    ok1, d1 = same_frames(mine, oracle)
    labels = con.sql(f"""SELECT image, category FROM read_csv('{root}/image_labels.csv/*.csv',
                         header=true, quote='"', escape='"', all_varchar=true)""").df()
    mine_l = pd.DataFrame({"id": labels["image"].map(lambda s: int(s.split("_", 1)[0])),
                           "category": labels["category"]})
    con.register("ids_df", oracle[["id"]])
    con.execute("CREATE TABLE ids AS SELECT id FROM ids_df")
    ok2, d2 = same_frames(mine_l, con.sql(ex["labels_sql"]).df())
    return [("pipeline.preprocessed_vs_duckdb", ok1, d1, "stage:PreprocessorStage"),
            ("pipeline.labels_vs_duckdb", ok2, d2, "stage:ImageLabelerStage")]


def ingest(ex):
    """The near-dup sink against x08's backfill rule: a document is
    admitted iff it shares no band with any document earlier in
    (batch, id) order."""
    con = duckdb.connect()
    batches = ex["batches"]
    con.execute(f"""CREATE TABLE documents AS SELECT doc_id, text, batch
                    FROM read_parquet('{ex['docs']}') WHERE batch IN ({','.join(map(str, batches))})""")
    # the offered order of batches is their position in `batches`
    con.execute("CREATE TABLE pos(batch BIGINT, p BIGINT)")
    con.executemany("INSERT INTO pos VALUES (?, ?)", [(b, i) for i, b in enumerate(batches)])
    oracle = con.sql(f"""
        WITH {ex['cand_ctes']},
        ord AS (SELECT d.doc_id AS id, pos.p FROM documents d JOIN pos USING (batch)),
        blocked AS (
          SELECT DISTINCT y.id FROM banded x JOIN banded y
            ON x.band_id = y.band_id AND x.band_key = y.band_key
          JOIN ord ox ON ox.id = x.id JOIN ord oy ON oy.id = y.id
          WHERE ox.p < oy.p OR (ox.p = oy.p AND x.id < y.id))
        SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM blocked)""").df()
    mine = con.sql(f"SELECT doc_id FROM read_parquet('{ex['sink']}/*/*.parquet')").df()
    ok, d = same_frames(mine, oracle)
    return [("ingest.neardup_vs_backfill", ok, d, "batch")]


def query(ex):
    """Registered gates against their oracle SQL, as tools/check.py does."""
    con = duckdb.connect()
    t = ex["tables"]
    for name in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}/{name}.parquet'")
    con.execute(f"CREATE VIEW all_events AS SELECT * FROM '{t}/events.parquet'")
    out = []
    for g in ex["gates"]:
        if g["class"] == "gap_fill":
            users = ",".join(map(str, ex["gap_users"]))
            con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM all_events WHERE user_id IN ({users})")
        else:
            con.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM all_events")
        mine = pd.read_parquet(g["result"])
        ok, d = same_frames(mine, con.sql(g["sql"]).df())
        out.append((f"query.{g['gate']}_vs_oracle", ok, d, f"query:{g['class']}"))
    return out


def run(workload, exports):
    try:
        return {"pipeline_batch": pipeline, "ingest_stream": ingest,
                "query_mix": query}[workload](exports)
    except Exception as e:  # a check that cannot run is a failed check
        return [(f"{workload}.checks", False, f"check error: {e!r}", "*")]
