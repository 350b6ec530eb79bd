"""The traced run's poll-read counter sees reads made on pool threads."""

import json

from spans import Tracer, install


def test_cold_poll_counts_its_parquet_reads(tmp_path):
    import polar_spark.topics as topics_mod
    from polar_spark.consume import _SEG_CACHE, EARLIEST, ConsumerGroup
    from polar_spark.produce import Producer
    from polar_spark.session import get_spark
    from polar_spark.topics import TopicCatalog

    spark = get_spark(app_name="perfbench-tests", shuffle_partitions=2)
    try:
        cat = TopicCatalog(spark, str(tmp_path / "topics"))
        cat.ensure_topic("t")
        # registered before any data exists, so registration warms no file
        group = ConsumerGroup(cat, "g")
        group.register("t", EARLIEST)
        prod = Producer(cat)
        # keyless batches spread over the partitions: several files, so a
        # cold poll reads them on the shared IO pool, not inline
        for i in range(4):
            prod.produce_rows("t", [json.dumps({"i": i, "j": j}) for j in range(20)])
        _SEG_CACHE.clear()
        real_pool = topics_mod.io_pool
        tracer = Tracer()
        install(tracer)
        try:
            items = group.poll("t", max_records=200).items()
        finally:
            tracer.unwrap_all()
        assert sum(len(i["records"]) for i in items) == 80
        assert tracer.counts.get("consume.parquet_reads", 0) > 0
        assert topics_mod.io_pool is real_pool
    finally:
        spark.stop()
