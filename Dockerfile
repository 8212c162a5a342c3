# --------------------------------------------
# Graft — Spark-native analytics engine
# Dockerized ETL entrypoint
# --------------------------------------------
# Build stage: compile the library with sbt. Spark itself is provided by
# the runtime image, so `sbt package` emits only the thin library jar —
# no assembly / shading needed. build.sbt resolves Spark from
# /opt/spark/jars as an unmanaged classpath; stage those jars in from the
# same Spark image the runtime uses so compile and runtime classpaths
# cannot drift.
FROM apache/spark:4.1.2-scala2.13-java17-ubuntu AS spark
FROM sbtscala/scala-sbt:eclipse-temurin-17.0.10_7_1.10.0_2.13.14 AS build
COPY --from=spark /opt/spark/jars /opt/spark/jars
WORKDIR /build
COPY build.sbt .
COPY project/ project/
COPY src/ src/
RUN sbt -batch package

# Runtime: the official Apache Spark image on the same
# Spark 4.1.2 / Scala 2.13 / Java 17 line the library compiles against.
FROM apache/spark:4.1.2-scala2.13-java17-ubuntu
USER root
WORKDIR /app
COPY --from=build /build/target/scala-2.13/*.jar /app/graft.jar
COPY config/ /app/config/

# warehouse + logs live under /app/data (volume-mounted in compose)
RUN mkdir -p /app/data

ENV TZ=UTC

# Healthcheck: the pipeline's first successful run creates the etl_runs
# table directory inside the warehouse — its absence after startup means
# no run has completed. Later runs add or swap one file inside it, so the
# directory stays in place while a run is recorded. The path must match `database.path` in
# config/pipeline_config.json; if you point the config elsewhere, update
# this line too.
HEALTHCHECK --interval=60s --timeout=10s --retries=3 \
    CMD test -d /app/data/warehouse/etl_runs || exit 1

# Run the pipeline. Default CMD is a single run (`--once`); override with
# an empty command for scheduled mode (every `schedule.interval_hours`).
ENTRYPOINT ["/opt/spark/bin/spark-submit", "--class", "graft.etl.Main", \
            "--master", "local[*]", "/app/graft.jar"]
CMD ["--once"]
