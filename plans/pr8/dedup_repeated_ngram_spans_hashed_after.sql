
    WITH ng AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(a) - 4), i -> array_to_string(a[i:i+4], ' '))) AS ngram
                FROM (SELECT doc_id, string_split(text, ' ') AS a
                      FROM documents)),
    df AS (SELECT ngram, count(DISTINCT doc_id) AS ndocs
           FROM ng GROUP BY 1),
    per_doc AS (
        SELECT ng.doc_id,
               count(*) AS n_ngrams,
               CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_repeated
        FROM ng JOIN df USING (ngram) GROUP BY ng.doc_id)
    SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams, n_repeated,
           round(CAST(n_repeated AS DOUBLE) / n_ngrams, 6) AS repeated_frac
    FROM per_doc
    