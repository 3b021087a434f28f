"""URI routing: which repo, dataset and basefile a request URI maps to."""


def test_route_uris_reference_semantics(spark):
    """Routing mirrors wsgiapp dispatch: first matching repo wins,
    dataset alias comparison strips suffix/params
    (requesthandler.py:86-99), basefile strips '#fragment' before
    '.suffix' (documentrepository.py:694-717)."""
    from ferenda_spark.operators.routing import route_uris
    from ferenda_spark.uris import RepoConfig
    cfgs = [RepoConfig(alias="doc", url="http://h/"),
            RepoConfig(alias="alt", url="http://h/"),
            # same alias as the first but later in registration order:
            # must never win (first-repo-wins)
            RepoConfig(alias="doc", url="http://h/")]
    cases = {
        "http://h/res/doc/123": ("doc", "res", "123"),
        "http://h/res/doc/123.html": ("doc", "res", "123"),
        "http://h/res/doc/123#S1": ("doc", "res", "123"),
        # fragment wins over suffix: the reference's elif keeps the
        # '.html' when a '#fragment' was stripped (:706-709)
        "http://h/res/doc/12.html#S1": ("doc", "res", "12.html"),
        "http://h/res/alt/a1": ("alt", "res", "a1"),
        "http://h/dataset/doc": ("doc", "dataset", None),
        "http://h/dataset/doc.rdf": ("doc", "dataset", None),
        "http://h/dataset/doc?titel=a": ("doc", "dataset", None),
        "http://h/dataset/docx": (None, None, None),  # near-miss alias
        "http://h/res/nope/1": (None, None, None),
        "http://other/res/doc/1": (None, None, None),  # host mismatch
    }
    df = spark.createDataFrame([(u,) for u in cases], "uri string")
    got = {r["uri"]: (r["repo"], r["kind"], r["basefile"])
           for r in route_uris(df, cfgs).collect()}
    assert got == cases

    # ...and the python-level inverse agrees where it applies
    cfg = cfgs[0]
    assert cfg.basefile_from_uri("http://h/res/doc/123.html") == "123"
