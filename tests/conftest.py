import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from crawler_seo_spark.session import get_spark
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark("crawler-seo-spark-tests", cores=cores,
                  shuffle_partitions=cores)
    yield s


@pytest.fixture(scope="session")
def small_site():
    """200-page synthetic site (one per session; deterministic)."""
    from crawler_seo_spark.sources.synthetic_site import build_site
    return build_site(200, n_images=60, seed=42)


@pytest.fixture(scope="session")
def pages_df(spark, small_site):
    import pandas as pd
    rows = list(small_site.values())
    pdf = pd.DataFrame(rows)
    return spark.createDataFrame(
        pdf,
        schema=("url string, page_index int, status_code int, "
                "content_type string, final_url string, "
                "response_time_ms double, content_length long, html string, "
                "headers map<string,string>, image_ids array<string>"),
    ).localCheckpoint(eager=True)
