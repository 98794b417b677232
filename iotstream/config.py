"""S3 — engine configuration.

The reference loads a java-properties file at job start
(reference src/main/java/stream/StreamProcessor.java:35-36;
src/main/resources/application.properties:1-16) carrying MQTT broker
url/port, Kafka bootstrap servers, and the output topic. We keep the
same knob surface (plus Spark-specific ones) in a frozen dataclass and
accept the same ``key=value`` properties format.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields


@dataclass(frozen=True)
class EngineConfig:
    # transport (reference application.properties keys)
    mqtt_server_url: str = "tcp://localhost"
    mqtt_port: int = 1883
    mqtt_topic: str = "sensors/#"
    kafka_bootstrap: str = "localhost:9092"
    kafka_topic: str = "event1"  # application.properties:16
    # storage
    raw_archive_path: str = "/tmp/iotstream/raw"
    clean_path: str = "/tmp/iotstream/clean"
    # streaming policy (SURVEY.md §2.8 T6)
    window_width: str = "1 minute"
    extra: dict = field(default_factory=dict)

    @classmethod
    def from_properties(cls, path: str) -> "EngineConfig":
        """Parse a java-style properties file (S3). Unknown keys land in
        ``extra`` instead of erroring — Gson-style leniency, but visible."""
        known = {f.name for f in fields(cls)}
        kv: dict[str, str] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith(("#", "!")):
                    continue
                if "=" in line:
                    k, _, v = line.partition("=")
                    kv[k.strip().replace(".", "_")] = v.strip()
        args: dict = {}
        extra: dict = {}
        for k, v in kv.items():
            if k in known:
                hint = cls.__dataclass_fields__[k].type
                args[k] = int(v) if "int" in str(hint) else v
            else:
                extra[k] = v
        return cls(**args, extra=extra)
